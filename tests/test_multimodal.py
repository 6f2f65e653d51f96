"""Multimodal binary columns: perceptual hash, media dedup, packed-hash bases (operators/multimodal.py).

Consolidated from the per-round test files (r14 governance pass) — test bodies unchanged."""

from __future__ import annotations

import time
import pytest
from pyspark.sql import functions as F
from radmapper_spark.operators import chunking, dedup, graph
from radmapper_spark.operators import multimodal as mm
from radmapper_spark.operators import tokenizer as tk
import shutil

# ======================== from test_round11.py ========
DUPTXT = ("the quick brown fox jumps over the lazy dog again and again "
          "until the fence falls and the farmer wakes to chase it away")


def _media(spark, rows):
    return spark.createDataFrame(rows, "media_id long, text string") \
        .select("media_id", F.encode("text", "UTF-8").alias("payload"))


def _ref_phash(text, pixels=61, bits=60):
    """Independent pure-Python reference of the fake-decode dHash."""
    cp = [ord(c) for c in text]
    L = len(cp)
    px = [sum(cp[(i * L) // pixels:((i + 1) * L) // pixels]) % 256
          for i in range(pixels)]
    return sum((1 << i) for i in range(bits) if px[i + 1] > px[i])


def test_perceptual_hash_matches_reference(spark):
    texts = ["some sample document text here", "x", "aa " * 100]
    media = _media(spark, list(enumerate(texts)))
    got = {r.media_id: r.phash for r in mm.perceptual_hash(media).collect()}
    assert got == {i: _ref_phash(t) for i, t in enumerate(texts)}
    # non-negative 60-bit: the portable-hash convention
    assert all(0 <= h < (1 << 60) for h in got.values())


def test_phash_banding_recall_exact_under_max_hamming(spark):
    """Pigeonhole recall: EVERY pair within hamming <= 3 must be found
    by the banded join — compare against a brute-force popcount over
    all pairs of hashes."""
    from itertools import combinations
    base = ("lorem ipsum dolor sit amet consectetur adipiscing elit sed "
            "do eiusmod tempor incididunt ut labore et dolore magna")
    # perturbations: same length (chunk boundaries stable) with small
    # character nudges -> small, varied hamming distances
    texts = [base]
    for i, ch in [(3, "f"), (9, "t"), (17, "z"), (30, "q"), (55, "m")]:
        texts.append(base[:i] + ch + base[i + 1:])
    texts += ["totally different content here entirely unrelated words",
              base[::-1]]
    media = _media(spark, list(enumerate(texts)))
    hashes = {r.media_id: r.phash
              for r in mm.perceptual_hash(media).collect()}
    brute = {(a, b): bin(hashes[a] ^ hashes[b]).count("1")
             for a, b in combinations(sorted(hashes), 2)
             if bin(hashes[a] ^ hashes[b]).count("1") <= 3}
    assert brute, "fixture must produce at least one near pair"
    got = {(r.id_a, r.id_b): r.hamming
           for r in mm.phash_neardup_pairs(media, max_hamming=3).collect()}
    assert got == brute


def test_perceptual_hash_drops_empty_payloads(spark):
    media = spark.createDataFrame(
        [(1, b""), (2, None), (3, b"real content here")],
        "media_id long, payload binary")
    got = mm.perceptual_hash(media).collect()
    assert [r.media_id for r in got] == [3]


def test_perceptual_hash_raises_without_fake_decode(spark, monkeypatch):
    """Production contract: no PIL + RM_MM_FAKE_DECODE unset -> the task
    raises instead of silently faking (same boundary as
    extract_features)."""
    monkeypatch.setenv("RM_MM_FAKE_DECODE", "0")
    media = _media(spark, [(1, "text")])
    try:
        import PIL  # noqa: F401
        pytest.skip("pillow installed; the raise path is unreachable")
    except ImportError:
        pass
    with pytest.raises(Exception, match="pillow|NotImplemented"):
        mm.perceptual_hash(media).collect()


def test_perceptual_hash_param_guards(spark):
    media = _media(spark, [(1, "text")])
    with pytest.raises(ValueError, match="bits"):
        mm.perceptual_hash(media, bits=64, pixels=65)
    with pytest.raises(ValueError, match="pixels"):
        mm.perceptual_hash(media, bits=60, pixels=60)
    with pytest.raises(ValueError, match="pigeonhole"):
        mm.phash_neardup_pairs(media, max_hamming=4, bands=4)
    with pytest.raises(ValueError, match="fit"):
        mm.phash_neardup_pairs(media, bands=5, band_bits=15, bits=60)


def test_phash_pairs_base_contract(spark):
    """The persist-the-base contract (r11 review): owned bases are
    persisted in the caller's scope and freed with it; caller-supplied
    bases are param-validated and never released by the operator."""
    from radmapper_spark.session import scope
    from tests.conftest import persisted_rdd_ids

    media = _media(spark, [(1, DUPTXT), (2, DUPTXT)])
    before = persisted_rdd_ids(spark)
    with scope():
        out = mm.phash_neardup_pairs(media)
        assert out.count() == 1
        assert persisted_rdd_ids(spark) - before  # the owned base
    assert persisted_rdd_ids(spark) - before == set()
    base = mm.perceptual_hash(media, bits=50, pixels=51).persist()
    # the builder records its parameters on the phash column
    assert dedup.build_params(base, "phash") == {"kind": "phash",
                                                 "bits": 50}
    with pytest.raises(ValueError, match="bits"):
        mm.phash_neardup_pairs(media, bits=60, base=base)
    with scope():
        ok = mm.phash_neardup_pairs(media, bits=50, bands=3, band_bits=15,
                                    max_hamming=2, base=base)
        assert ok.count() == 1
    assert base.is_cached  # caller-owned: the operator's scope kept it
    base.unpersist()


def test_image_dedup_groups_composition(spark):
    """The composed loop: phash pairs -> connected components. A trio of
    identical payloads collapses to one min-id component; unrelated
    media stay singletons labeled by themselves. (Transitive closure
    itself is proven in the dedup CC tests; this pins the composition.)"""
    t = ("lorem ipsum dolor sit amet consectetur adipiscing elit sed do "
         "eiusmod tempor incididunt ut labore et dolore magna aliqua ok")
    media = _media(spark, [(1, t), (2, t), (3, t), (9, "unrelated words "
                                                       "here entirely")])
    pairs = mm.phash_neardup_pairs(media, max_hamming=3)
    comp = dedup.dedup_groups(
        media.select(F.col("media_id").alias("doc_id")), pairs,
        id_col="doc_id").collect()
    got = {r.doc_id: r.component for r in comp}
    assert got[1] == got[2] == got[3] == 1
    assert got[9] == 9  # singleton keeps itself


def test_image_dedup_groups_entry_releases_its_base(spark, monkeypatch):
    """The entrypoint consumes the pairs eagerly (connected components
    checkpoints its edge frame and makes the gate's bounded collect at
    construction) and frees its persisted phash base before returning,
    so the phash pass's blocks are gone while the result is still being
    read. The base is captured where the operator persists it; the
    result carries the registry's release handle for the rest."""
    import radmapper_spark.entrypoints as E
    from tests.conftest import SF_SMOKE, persisted_rdd_ids

    captured = []
    orig = mm.persist

    def spy(df, *a, **k):
        out = orig(df, *a, **k)
        captured.append(out)
        return out

    monkeypatch.setattr(mm, "persist", spy)
    before = persisted_rdd_ids(spark)
    out = E.ENTRIES["image_dedup_groups"][0](spark, SF_SMOKE)
    assert len(captured) == 1 and captured[0].is_cached is False
    assert out.count() > 0
    out.rm_release_cache()
    assert persisted_rdd_ids(spark) - before == set()


def test_stream_media_dedup_state_across_batches(spark, tmp_path):
    """media_dedup(streaming=True) on a file stream: perceptual-hash
    duplicates arriving in a LATER micro-batch are dropped against
    state carried across batches; survivors' phash set equals the batch
    twin's."""
    import datetime

    from radmapper_spark.operators import multimodal as mm2

    t0 = datetime.datetime(2024, 1, 1)
    texts = [f"document number {i} with some distinct words {i * 7}"
             for i in range(30)]
    rows1 = [(i, texts[i].encode(), t0) for i in range(30)]
    # echo batch: same payloads, new ids, later ts -> same phash
    rows2 = [(1000 + i, texts[i].encode(),
              t0 + datetime.timedelta(minutes=5)) for i in range(0, 30, 3)]
    schema = "media_id long, payload binary, ts timestamp"
    src = str(tmp_path / "media_in")
    spark.createDataFrame(rows1, schema).coalesce(1) \
        .write.mode("overwrite").parquet(src)
    spark.createDataFrame(rows2, schema).coalesce(1) \
        .write.mode("append").parquet(src)
    stream = (spark.readStream.schema(schema)
              .option("maxFilesPerTrigger", 1).parquet(src))
    out = mm2.media_dedup(stream, streaming=True, watermark="1 hour")
    q = (out.writeStream.format("memory").queryName("rm_media_dedup")
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = spark.sql("SELECT media_id, phash FROM rm_media_dedup").collect()
    batch = mm2.media_dedup(
        spark.createDataFrame(rows1 + rows2, schema)).collect()
    # every echo (id >= 1000) was dropped against batch-1 state
    assert all(r.media_id < 1000 for r in got)
    assert {r.phash for r in got} == {r.phash for r in batch}
    assert len(got) == len({r.phash for r in got})  # one row per phash


def test_stream_media_dedup_custom_id_and_ntz_ts(spark, tmp_path):
    """r11 third review: the streaming path must honor a non-default
    id_col (the hash pass always emits 'media_id' internally) and a
    TIMESTAMP_NTZ event-time column (the newer driver-parquet surface —
    _ensure_ltz casts before withWatermark, like every other streaming
    path)."""
    import datetime

    from radmapper_spark.operators import multimodal as mm2

    t0 = datetime.datetime(2024, 1, 1)
    variants = ["lorem ipsum dolor sit amet " * 4,
                "a completely different document body here " * 3,
                "third unique content with other words entirely " * 3]
    rows = [(i, variants[i % 3].encode(), t0) for i in range(9)]
    schema = "doc_id long, payload binary, ts timestamp_ntz"
    src = str(tmp_path / "media_ntz")
    spark.createDataFrame(rows, schema).coalesce(1) \
        .write.mode("overwrite").parquet(src)
    stream = (spark.readStream.schema(schema).parquet(src))
    out = mm2.media_dedup(stream, id_col="doc_id", streaming=True,
                          watermark="1 hour")
    assert set(out.columns) == {"doc_id", "phash", "ts"}
    q = (out.writeStream.format("memory").queryName("rm_media_ntz")
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = spark.sql("SELECT doc_id, phash FROM rm_media_ntz").collect()
    assert len(got) == 3  # 3 distinct payload variants -> 3 phashes
    assert len({r.phash for r in got}) == 3


def test_perceptual_hash_carry_cols_passthrough(spark):
    """carry_cols ride the Arrow pass untouched with schema-derived
    types, and empty-payload rows drop their carried values too."""
    import datetime
    t0 = datetime.datetime(2024, 6, 1, 12, 0, 0)
    media = spark.createDataFrame(
        [(1, b"abc", t0, "x"), (2, b"", t0, "y")],
        "media_id long, payload binary, ts timestamp, tag string")
    out = mm.perceptual_hash(media, carry_cols=("ts", "tag")).collect()
    assert len(out) == 1
    assert (out[0].media_id, out[0].ts, out[0].tag) == (1, t0, "x")


# ======================== from test_round12.py (r14 consolidation) ========
def _fake_media_base(spark, hashes):
    df = spark.createDataFrame(
        [(i, int(h)) for i, h in enumerate(hashes)],
        "media_id: long, phash: long")
    return df


def test_packed_hash_probe_rejects_wider_base(spark):
    """A hand-built base (here one holding a 64-bit value, and one with
    the sign bit set, fed to a 60-bit band consumer) records no build
    parameters, so it fails loudly whatever its values: no sample of
    them is a witness for how it was packed."""
    from radmapper_spark.operators import multimodal
    from radmapper_spark.operators.dedup import IndexParamMismatch

    media = spark.createDataFrame([(1, b"x")], "media_id: long, payload: binary")
    for hashes in ([1 << 62, 5], [-1, 5], [0, (1 << 60) - 1]):
        with pytest.raises(IndexParamMismatch, match="no build parameters"):
            multimodal.phash_neardup_pairs(
                media, base=_fake_media_base(spark, hashes), bits=60)


def test_stamped_attr_still_authoritative(spark):
    """A base recording other bits raises from the record compare,
    whatever its values."""
    from radmapper_spark.operators import dedup

    base = _fake_media_base(spark, [5]).withMetadata(
        "phash", {dedup._BUILD_KEY: {"kind": "phash", "bits": 64}})
    with pytest.raises(dedup.IndexParamMismatch,
                       match="bits: base=64 != caller=60"):
        dedup.check_params(base, "phash", "phash_neardup_pairs",
                           kind="phash", bits=60)
