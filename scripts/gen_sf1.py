"""Generate a one-off deterministic ~sf1 (10x sf0.1) table set for the
headline linearity stress (r13 verdict item #5):

    SPARK_GRAFT_CPUS=4 SPARK_GRAFT_DRIVER_MEM=4g \
        python scripts/gen_sf1.py [OUT_DIR]        # OUT_DIR: /tmp/sf1

The session comes from session.get_spark, so the master's cores are
SPARK_GRAFT_CPUS and the driver memory SPARK_GRAFT_DRIVER_MEM. Each
table is ONE parquet file, ``OUT_DIR/<table>.parquet`` — the fixture
layout, so the DuckDB oracle (tests/oracle.duck_conn), sf_fingerprint
and the memo read sf1 as they read sf0.1.

documents/embeddings are synthesized fresh (same vocab/shape/stat
profile as the driver fixtures, hash-seeded — NOT replicated copies);
orders/lineitem are 10 key-shifted copies (10x the edges for the graph
entries; the copies are disjoint subgraphs, which leaves plan shape and
per-edge cost unchanged); small dims and events are copied as-is.

PAIR-HEAVY regimes planted in documents (r14 verdict item #3 — the r14
hash-uniform text priced the substring family and the keep_best /
rate_report pair joins only in their scan-dominated regime):

* exact duplicates: doc_id % 625 in {0,1} share a seed with NO
  mutation — 80 pairs / 160 docs = 0.32% of the corpus, the measured
  sf0.1 fixture density exactly;
* near-dup clusters: doc_id % 50 in {0,1,2} (and not exact-dup slots)
  generate from the 50-block seed with ~3% per-word mutation — 1000
  triples / ~5.9% of docs feeding the minhash/simhash/jaccard pair
  joins;
* repeated LONG spans: seeds with seed % 19 < 3 append one of 400
  18-word span variants (variant chosen by seed hash) — ~20 docs per
  span, inside repeated_span_pairs' [min_doc_freq=2, max_doc_freq=50]
  bucket bound, so the span family actually explodes pairs instead of
  filtering everything as boilerplate.

All three regimes key off the SEED (not the doc), so exact-dup pairs
stay byte-identical including the appended span."""
import os
import shutil
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
import pyarrow.dataset as ds
import pyarrow.parquet as pq
from pyspark.sql import functions as F
from radmapper_spark.session import get_spark

SRC = "/root/testdata/sf0.1"
DST = sys.argv[1] if len(sys.argv) > 1 else "/tmp/sf1"
os.makedirs(DST, exist_ok=True)

spark = get_spark("gen-sf1")


def write_table(df, name):
    """Write ``df`` as the single file DST/<name>.parquet: Spark writes
    its part files to a scratch dir, whose batches stream into one
    parquet file (one row group per batch)."""
    out, tmp = f"{DST}/{name}.parquet", f"{DST}/_{name}"
    df.write.mode("overwrite").parquet(tmp)
    if os.path.isdir(out):  # a directory from an older generator run
        shutil.rmtree(out)
    parts = ds.dataset(tmp, format="parquet")
    with pq.ParquetWriter(out, parts.schema) as w:
        for b in parts.to_batches():
            w.write_batch(b)
    shutil.rmtree(tmp)

import duckdb
base_vocab = [r[0] for r in duckdb.connect().execute(
    f"SELECT DISTINCT w FROM (SELECT unnest(string_split(text,' ')) w "
    f"FROM '{SRC}/documents.parquet') WHERE w <> '' ORDER BY 1").fetchall()]
# widen the vocabulary ~100x (suffix variants of the fixture words): a
# corpus 10x the fixture should have a LARGER vocabulary, not the same
# ~40 words — with the tiny vocab two RANDOM same-source docs exceed
# Jaccard 0.5 (E[j] ~ 0.6 over a 40-token universe), so the r14
# generator collapsed each source into one giant near-dup component
# (22M "true" pairs at sf1) and priced the dedup family in a regime no
# real corpus has. With ~4000 words random-pair Jaccard is ~0.01 and
# the pair volume is the PLANTED density below, as on real data.
#: non-digit separator (r15 advice): digit suffixes collided with other
#: base words ('word1' vs 'word'+'1'), shrinking the effective vocab
#: and duplicating entries — dedupe defensively as well
vocab = sorted({w if k == 0 else f"{w}_{k}" for w in base_vocab
                for k in range(100)})
print("vocab", len(vocab))

N_DOCS, N_EMB, K = 50_000, 20_000, 10

# ---- documents: hash-sampled word soup from the fixture vocab, with
# ---- seed-keyed exact-dup / near-dup / repeated-span regimes (above)
varr = F.array(*[F.lit(w) for w in vocab])
langs = F.array(*[F.lit(x) for x in
                  ["en", "en", "en", "de", "es", "fr", "zh"]])
V = len(vocab)
did = F.col("doc_id")
seed = (F.when(did % 625 < 2, did - (did % 625))
        .when(did % 50 < 3, did - (did % 50))
        .otherwise(did))
mutate = (did % 625 >= 2) & (did % 50 < 3)


def _word(h):
    return F.element_at(varr, (F.pmod(h, F.lit(V)) + 1).cast("int"))


span_variant = F.pmod(F.xxhash64(F.col("_seed"), F.lit(7)), F.lit(400))
span_text = F.array_join(F.transform(
    F.sequence(F.lit(1), F.lit(18)),
    lambda j: _word(F.xxhash64(span_variant, j, F.lit(6)))), " ")
docs = (spark.range(N_DOCS)
        .select(F.col("id").alias("doc_id"))
        .withColumn("_seed", seed)
        .withColumn("_mut", mutate)
        .withColumn("_len", (F.pmod(F.xxhash64(F.col("_seed"), F.lit(1)),
                                    F.lit(31)) + 40).cast("int"))
        .withColumn("text", F.array_join(F.transform(
            F.sequence(F.lit(1), F.col("_len")),
            lambda i: _word(
                F.when(F.col("_mut")
                       & (F.pmod(F.xxhash64(did, i, F.lit(9)),
                                 F.lit(31)) == 0),
                       F.xxhash64(did, i, F.lit(10)))
                .otherwise(F.xxhash64(F.col("_seed"), i, F.lit(2))))),
            " "))
        .withColumn("text", F.when(
            F.col("_seed") % 19 < 3,
            F.concat(F.col("text"), F.lit(" "), span_text))
            .otherwise(F.col("text")))
        .withColumn("lang", F.element_at(
            langs, (F.pmod(F.xxhash64(F.col("doc_id"), F.lit(3)),
                           F.lit(7)) + 1).cast("int")))
        # source keyed off the SEED, not the doc (r15 review: doc-keyed
        # sources put 19/20 planted dup pairs in DIFFERENT sources,
        # invisible to the same-source jaccard candidate join the
        # regimes exist to stress)
        .withColumn("source", F.concat(
            F.lit("src"), F.pmod(F.xxhash64(F.col("_seed"), F.lit(4)),
                                 F.lit(20)).cast("string")))
        .withColumn("n_chars", F.length("text"))
        .drop("_len", "_seed", "_mut"))
write_table(docs, "documents")

# ---- embeddings: 64-dim hash-uniform in [-0.4, 0.4]
emb = (spark.range(N_EMB).select(F.col("id").alias("vec_id"))
       .withColumn("embedding", F.transform(
           F.sequence(F.lit(1), F.lit(64)),
           lambda i: ((F.pmod(F.xxhash64(F.col("vec_id"), i, F.lit(5)),
                              F.lit(2001)) - 1000) / 2500.0).cast("float")))
       .withColumn("label", F.pmod(F.col("vec_id"), F.lit(10)).cast("int")))
write_table(emb, "embeddings")

# ---- orders/lineitem: 10 key-shifted copies
o = spark.read.parquet(f"{SRC}/orders.parquet")
li = spark.read.parquet(f"{SRC}/lineitem.parquet")
copies_o = [o.withColumn("o_orderkey", F.col("o_orderkey") + F.lit(k * 150_000))
             .withColumn("o_custkey", F.col("o_custkey") + F.lit(k * 15_000))
            for k in range(K)]
copies_l = [li.withColumn("l_orderkey", F.col("l_orderkey") + F.lit(k * 150_000))
              .withColumn("l_suppkey", F.col("l_suppkey") + F.lit(k * 1_000))
            for k in range(K)]
out_o = copies_o[0]
for c in copies_o[1:]:
    out_o = out_o.unionByName(c)
out_l = copies_l[0]
for c in copies_l[1:]:
    out_l = out_l.unionByName(c)
write_table(out_o, "orders")
write_table(out_l, "lineitem")

# ---- small dims + events: copy as-is
for t in ["region", "nation", "customer", "supplier", "part", "events"]:
    shutil.copy(f"{SRC}/{t}.parquet", f"{DST}/{t}.parquet")

for t in ["documents", "embeddings", "orders", "lineitem"]:
    print(t, pq.ParquetFile(f"{DST}/{t}.parquet").metadata.num_rows)
print("GEN DONE")
