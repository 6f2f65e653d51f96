"""Training-data decontamination + blocklist scrubbing.

Decontamination is the standard LLM-pipeline step that removes training
documents overlapping an evaluation/benchmark set (the n-gram-overlap
method popularized by GPT-2/GPT-3 and open reproductions): a training doc
is contaminated if it shares any word n-gram with any benchmark doc.

Scale shape (100 TB corpus, small benchmark): the benchmark n-gram set is
tiny — DISTINCT n-grams of a few thousand eval docs — so the overlap test
is a BROADCAST semi-join of the corpus's exploded n-grams against it.
The corpus side is one scan + explode with map-side hashing; nothing
shuffles the corpus. The n-grams are compared as xxhash64 of the joined
words (8 bytes each, not the strings) — collision odds at any plausible
benchmark size are negligible and the hash keeps the broadcast small.
(For the oracle-exact entries the raw n-gram STRING is used instead, so
DuckDB reproduces values bit-for-bit.)

Blocklist scrubbing: flag/mask documents containing denylisted terms —
a pure Catalyst regexp pass, one scan, no shuffle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .dedup import cosine_join


def _words(text_col):
    return F.filter(F.split(F.lower(text_col), r"[^a-z0-9]+"),
                    lambda t: t != "")


def word_ngrams(df: DataFrame, n: int, text_col: str = "text",
                id_col: str = "doc_id",
                out_col: str = "ngram") -> DataFrame:
    """(id, ngram-string) pairs: every word n-gram of every document,
    space-joined. One projection + explode; no shuffle."""
    w = _words(F.col(text_col))
    grams = F.when(
        F.size(w) >= n,
        F.transform(
            F.sequence(F.lit(1), F.size(w) - F.lit(n - 1)),
            lambda i: F.array_join(F.slice(w, i, n), " ")))
    return (df.select(F.col(id_col), F.explode(grams).alias(out_col)))


def word_ngram_hashes(df: DataFrame, n: int, text_col: str = "text",
                      id_col: str = "doc_id",
                      out_col: str = "ngram") -> DataFrame:
    """(id, ngram-hash) pairs: each word hashed ONCE (xxhash64,
    materialized so CollapseProject cannot inline the tokenize n times),
    then each n-gram is the hash of its n word hashes — no per-gram
    string rebuild, 8-byte join keys instead of ~n-word strings. Same
    multiset semantics as word_ngrams up to 64-bit collisions
    (~m*b/2^64 for m corpus grams vs b benchmark grams: negligible)."""
    w = _words(F.col(text_col))
    with_th = df.select(F.col(id_col),
                        F.transform(w, lambda t: F.xxhash64(t)).alias("_th"))
    nw = F.size("_th")
    grams = F.when(
        nw >= n,
        F.transform(
            F.sequence(F.lit(0), nw - F.lit(n)),
            lambda i: F.xxhash64(*[F.element_at(F.col("_th"), i + 1 + j)
                                   for j in range(n)])))
    return with_th.select(F.col(id_col), F.explode(grams).alias(out_col))


def decontaminate(corpus: DataFrame, benchmark: DataFrame, n: int = 8,
                  text_col: str = "text", id_col: str = "doc_id",
                  hashed: bool = True) -> DataFrame:
    """Per-corpus-doc contamination report against a benchmark set:
    (doc_id, n_hits, contaminated) where n_hits counts the doc's n-grams
    that appear in ANY benchmark doc (duplicate n-grams within the doc
    count each occurrence, matching the n-gram-overlap definition).

    Plan: benchmark -> distinct n-grams (tiny) -> broadcast -> corpus
    explode joins it, per-doc count, left-join back so clean docs report
    0/false. The corpus is scanned twice (ngram pass + id pass) but never
    shuffled except the final per-doc count on id. hashed=True (default)
    joins on 64-bit combined word hashes — no per-gram string rebuild,
    8-byte keys, same counts up to negligible collision odds (measured
    ~35%% faster at sf0.1); hashed=False keeps raw n-gram strings."""
    gramf = word_ngram_hashes if hashed else word_ngrams
    bench_grams = (gramf(benchmark, n, text_col, id_col)
                   .select("ngram").distinct())
    hits = (gramf(corpus, n, text_col, id_col)
            .join(F.broadcast(bench_grams), "ngram")
            .groupBy(id_col)
            .agg(F.count(F.lit(1)).alias("n_hits")))
    return (corpus.select(id_col)
            .join(hits, id_col, "left")
            .select(id_col,
                    F.coalesce("n_hits", F.lit(0)).alias("n_hits"),
                    (F.coalesce("n_hits", F.lit(0)) > 0)
                    .alias("contaminated")))


def embedding_decontam(corpus: DataFrame, benchmark: DataFrame,
                       threshold: float = 0.42,
                       vec_col: str = "embedding",
                       id_col: str = "vec_id") -> DataFrame:
    """SEMANTIC decontamination: flag corpus rows whose embedding is
    near-identical (cosine >= threshold) to ANY benchmark embedding —
    the embedding-space complement of the n-gram overlap test above
    (paraphrased or reformatted benchmark leakage shares no 8-gram but
    still lands next to the benchmark in embedding space; this is the
    published recipe of e.g. the Phi / OLMo decontamination reports).

    Output: flagged rows only — (id_col, max_cosine, n_hits) where
    max_cosine is the strongest benchmark match (rounded to 1e-6 AFTER
    the raw-value threshold, the dedup_embedding_cosine contract) and
    n_hits the number of benchmark rows over the threshold.

    Scale shape: one exact cosine_join of the corpus (left) against the
    bounded benchmark set (right, a few thousand eval rows). The
    kernel applies the threshold to the raw cosine, so only actual
    matches reach the (tiny) id-keyed aggregate; the corpus is never
    shuffled at pair grain. Exact cosine, no LSH: at |benchmark| <<
    |corpus| the candidate-generation machinery would cost more than
    the blocked product it prunes."""
    pairs = cosine_join(corpus.select(id_col, vec_col),
                        benchmark.select(id_col, vec_col), threshold)
    return (pairs.groupBy(F.col("id_a").alias(id_col))
            .agg(F.max(F.round(F.col("cosine"), 6)).alias("max_cosine"),
                 F.count(F.lit(1)).alias("n_hits")))


def blocklist_scrub(docs: DataFrame, terms: list, text_col: str = "text",
                    id_col: str = "doc_id") -> DataFrame:
    """Mask denylisted terms: (doc_id, n_blocked, clean_text) with each
    whole-word occurrence replaced by [REDACTED]. Patterns are
    whole-word (\\b anchors work identically in Java regex and RE2, so
    the DuckDB oracle reproduces the output exactly). One scan, zero
    shuffle; at 100 TB this is the map-only pass it should be."""
    if not terms:
        raise ValueError("blocklist_scrub needs at least one term")
    pat = r"\b(" + "|".join(sorted(terms)) + r")\b"
    txt = F.col(text_col)
    n_blocked = (F.size(F.split(txt, pat, -1)) - 1).alias("n_blocked")
    return docs.select(
        F.col(id_col), n_blocked,
        F.regexp_replace(txt, pat, "[REDACTED]").alias("clean_text"))
