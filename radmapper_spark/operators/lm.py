"""N-gram language-model document scoring (CCNet-shaped).

CCNet (Wenzek et al. 2020, public paper) filters a web corpus by the
perplexity of each document under a language model trained on a
high-quality reference corpus, then splits the corpus into
head/middle/tail quality buckets on that score. This module is the
distributed re-expression of that recipe with a count-based bigram LM
and stupid backoff (Brants et al. 2007 — "Large Language Models in
Machine Translation"; the backoff constant 0.4 is the paper's):

    p(w_i | w_{i-1}) = c(w_{i-1}, w_i) / c(w_{i-1})        if seen
                     = 0.4 * c(w_i) / N                     unigram backoff
                     = 0.4 / (N + V)                        OOV floor

The distributed shape (the only one that works at 100 TB):

1. TRAIN on the reference slice: one unigram aggregate (map-side
   partials reduce each task to <= |vocab| rows before the exchange),
   a deterministic top-``top_v`` vocabulary cut on (count desc, term)
   via TakeOrderedAndProject — the cut BOUNDS the model no matter how
   big the reference is — and one bigram aggregate restricted to
   kept-vocab pairs with count >= ``min_bigram``. Model size is
   therefore <= top_v + observed-bigram rows: broadcastable by
   construction, exactly like the DSIR weight table.
2. SCORE the full corpus: explode each document's adjacent bigram
   occurrences, broadcast-join the model tables (the corpus is NEVER
   shuffled for the lookup), compute the per-position log-prob, and
   reduce per document — ONE corpus-keyed aggregate whose combine-side
   partials collapse every partition to one row per document.
3. BUCKET (lm_bucket): CCNet's head/middle/tail tercile split via the
   distributed exact-ntile recipe (operators.ranking.global_ntile) —
   never a single-partition window.

Engine-exactness contract: every per-position log-prob is a single
``ln`` of a ratio of exact BIGINT counts (both engines compute the
identical IEEE double), FLOORED to the 1e-6 grid and summed as BIGINT
micro-nats — the floor-to-grid-before-ANY-summation pattern from the
gram matrix (linalg.py) makes the per-document sum associativity-free
and parallelism-independent, so the DuckDB oracle reproduces it
bit-for-bit. Ranks and cuts never order on raw floats: the vocabulary
cut is integer-ordered, and the tercile ordering key is a single
division of two exact BIGINTs (IEEE-identical in any engine).

Reference parity note: the reference engine (pdenno/RADmapper) has no
LM-scoring surface; this module is part of the training-data extension
stack, re-expressed from the public CCNet / stupid-backoff papers —
not translated from any implementation.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

BACKOFF = 0.4          # stupid-backoff discount (Brants et al. 2007)
MICRO = 1_000_000.0    # micro-nat grid for the floored per-term log-prob


def lm_tokens(text_col: str):
    """THE scoring tokenization (lower, split on non-letters, drop
    empties) as a Column expression — shared by this module and
    classifier.py so the two scoring families can never silently fork
    (its SQL twin is _DUCK_TOKS below)."""
    return F.filter(F.split(F.lower(F.col(text_col)), r"[^a-z]+"),
                    lambda t: t != "")


def _bigram_rows(docs: DataFrame, text_col: str, keep_cols=()) -> DataFrame:
    """One row per adjacent-bigram OCCURRENCE: (*keep_cols, w1, w2).
    Tokenization matches textstats/selection (lower, split on
    non-letters); documents with < 2 tokens contribute nothing."""
    base = docs.select(*keep_cols, lm_tokens(text_col).alias("_t"))
    n = F.size(F.col("_t"))
    bigrams = F.when(n >= 2, F.transform(
        F.sequence(F.lit(0), n - F.lit(2)),
        lambda i: F.struct(F.element_at(F.col("_t"), i + 1).alias("w1"),
                           F.element_at(F.col("_t"), i + 2).alias("w2"))))
    return (base.select(*keep_cols, F.explode(bigrams).alias("_b"))
            .select(*keep_cols, F.col("_b.w1").alias("w1"),
                    F.col("_b.w2").alias("w2")))


def _model_tables(ref_docs: DataFrame, text_col: str, top_v: int,
                  min_bigram: int, sfx: str = ""):
    """Bounded stupid-backoff model tables trained on ``ref_docs``:
    (bi, u_prev, u_cur, consts), every stat column suffixed with
    ``sfx`` so two models can join the SAME position frame (the
    Moore-Lewis single-corpus-pass shape). Unigrams are counted from
    their own explode (counting both legs of every bigram would
    double-count interior tokens)."""
    uni_all = (ref_docs.select(F.explode(lm_tokens(text_col)).alias("w"))
               .groupBy("w").agg(F.count(F.lit(1)).alias("c_w")))
    vocab = (uni_all.orderBy(F.col("c_w").desc(), F.col("w").asc())
             .limit(top_v))
    bi = (_bigram_rows(ref_docs, text_col)
          .join(F.broadcast(vocab.select(F.col("w").alias("w1"))), "w1")
          .join(F.broadcast(vocab.select(F.col("w").alias("w2"))), "w2")
          .groupBy("w1", "w2")
          .agg(F.count(F.lit(1)).alias(f"c_ab{sfx}"))
          .filter(F.col(f"c_ab{sfx}") >= int(min_bigram)))
    # corpus totals stay INSIDE the lazy plan (1-row aggregate broadcast-
    # crossed into every position row — no eager scalar collects), with
    # empty-reference guards: sum over an empty vocab is NULL (coalesce)
    # but count is 0, not NULL, so the v floor needs greatest, not
    # coalesce (a dead coalesce(count,1) shipped in r9; caught by
    # test_round10.py::test_lm_score_empty_reference)
    consts = vocab.agg(
        F.coalesce(F.sum("c_w"), F.lit(1)).alias(f"_n_uni{sfx}"),
        F.greatest(F.count(F.lit(1)), F.lit(1)).alias(f"_v{sfx}"))
    u_prev = vocab.select(F.col("w").alias("w1"),
                          F.col("c_w").alias(f"c_prev{sfx}"))
    u_cur = vocab.select(F.col("w").alias("w2"),
                         F.col("c_w").alias(f"c_cur{sfx}"))
    return bi, u_prev, u_cur, consts


def _join_model(pos: DataFrame, model) -> DataFrame:
    """Broadcast-join one model's tables onto a position frame — the
    corpus side is never shuffled for the lookup."""
    bi, u_prev, u_cur, consts = model
    return (pos.join(F.broadcast(bi), ["w1", "w2"], "left")
            .join(F.broadcast(u_prev), "w1", "left")
            .join(F.broadcast(u_cur), "w2", "left")
            .crossJoin(F.broadcast(consts)))


def _lp_exprs(sfx: str = ""):
    """(hit, backoff, lp_micro) per-position expressions for the model
    suffixed ``sfx``. Each branch is ONE ln of exact integers —
    expression shapes are mirrored token-for-token by duck_lm_score_sql
    so both engines evaluate the identical IEEE double before the
    floor."""
    hit = F.col(f"c_ab{sfx}").isNotNull()
    backoff = (F.col(f"c_ab{sfx}").isNull()
               & F.col(f"c_cur{sfx}").isNotNull())
    lp = (F.when(hit, F.log(F.col(f"c_ab{sfx}").cast("double")
                            / F.col(f"c_prev{sfx}").cast("double")))
          .when(backoff, F.log(F.lit(BACKOFF)
                               * F.col(f"c_cur{sfx}").cast("double")
                               / F.col(f"_n_uni{sfx}").cast("double")))
          .otherwise(F.log(F.lit(BACKOFF)
                           / (F.col(f"_n_uni{sfx}") + F.col(f"_v{sfx}"))
                           .cast("double"))))
    return hit, backoff, F.floor(lp * F.lit(MICRO)).cast("long")


def lm_score(docs: DataFrame, ref_docs: DataFrame,
             text_col: str = "text", id_col: str = "doc_id",
             top_v: int = 2000, min_bigram: int = 2) -> DataFrame:
    """Score every document in ``docs`` under a stupid-backoff bigram LM
    trained on ``ref_docs``. Returns one row per document with >= 2
    tokens: (id_col, n_scored, n_hit, n_backoff, n_oov, lp_micro,
    avg_logprob) where lp_micro is the BIGINT sum of per-position
    floor(ln(p) * 1e6) micro-nats (engine-exact; see module docstring)
    and avg_logprob the surfaced float: floor(lp_micro / n_scored) back
    on the micro grid — never round(x, 6), whose half-tie behavior
    differs between engines, and never ranked on."""
    model = _model_tables(ref_docs, text_col, top_v, min_bigram)
    pos = _bigram_rows(docs, text_col, keep_cols=(id_col,))
    j = _join_model(pos, model)
    hit, backoff, lp_micro = _lp_exprs()
    out = (j.groupBy(id_col)
           .agg(F.count(F.lit(1)).alias("n_scored"),
                F.sum(hit.cast("long")).alias("n_hit"),
                F.sum(backoff.cast("long")).alias("n_backoff"),
                F.sum((~hit & ~backoff).cast("long")).alias("n_oov"),
                F.sum(lp_micro).alias("lp_micro")))
    # avg surfaced through the micro grid: floor(lp_micro / n) is one
    # floor of one IEEE division of exact BIGINTs — engine-exact, unlike
    # round(x, 6), whose half-tie behavior differs between Spark
    # (HALF_UP on BigDecimal) and DuckDB (a real sf0.01 doc landed on
    # -3.5114995 and the two engines split)
    avg_micro = F.floor(F.col("lp_micro").cast("double")
                        / F.col("n_scored"))
    return out.select(
        id_col, "n_scored", "n_hit", "n_backoff", "n_oov", "lp_micro",
        (avg_micro / F.lit(MICRO)).alias("avg_logprob"))


BUCKET_NAMES = {1: "head", 2: "middle", 3: "tail"}


def lm_bucket(scored: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """CCNet head/middle/tail split of an ``lm_score`` frame: exact
    tercile on (avg micro-nats desc, id) via the distributed
    global-ntile recipe. The ordering key is ONE division of two exact
    BIGINTs (IEEE-identical in any engine); ties break on the id."""
    from .ranking import global_ntile
    keyed = scored.withColumn(
        "_k", F.col("lp_micro").cast("double") / F.col("n_scored"))
    tiled = global_ntile(
        keyed, 3, [F.col("_k").desc(), F.col(id_col).asc()],
        tile_col="_tile")
    bucket = (F.when(F.col("_tile") == 1, F.lit("head"))
              .when(F.col("_tile") == 2, F.lit("middle"))
              .otherwise(F.lit("tail")))
    return tiled.select(id_col, "n_scored", "lp_micro", "avg_logprob",
                        bucket.alias("bucket"))


def moore_lewis_select(docs: DataFrame, in_ref: DataFrame,
                       out_ref: DataFrame, k: int,
                       text_col: str = "text", id_col: str = "doc_id",
                       top_v: int = 2000,
                       min_bigram: int = 2) -> DataFrame:
    """Moore-Lewis cross-entropy-difference data selection (Moore &
    Lewis 2010, "Intelligent Selection of Language Model Training
    Data" — public paper): rank every document by the per-token gap
    between its log-likelihood under an IN-DOMAIN LM and under an
    OUT-OF-DOMAIN (general pool) LM, keep the deterministic top-k.
    Documents the in-domain model likes MORE than the general model
    are the ones that look like the target domain rather than merely
    looking like fluent text — the classic fix for raw-perplexity
    selection's bias toward short/common-word documents.

    Output: (id_col, n_scored, diff_micro, ml_score, sel_rank) with
    diff_micro = lp_in_micro - lp_out_micro (exact BIGINT — both
    passes tokenize identically, so the position sets and n_scored
    agree and the per-document difference needs no renormalization)
    and ml_score = floor(diff_micro / n_scored) / 1e6, the surfaced
    per-token gap in nats. The cut orders on ONE IEEE division of two
    exact BIGINTs (ties break on the id), so both engines reproduce
    the exact same top-k.

    Scale shape: ONE corpus position pass scoring BOTH models — the
    position frame broadcast-joins the in-domain and out-of-domain
    model tables (suffixed stat columns, so the two lookups stack on
    the same rows) and a single per-doc aggregate computes both
    micro-nat sums; then a TakeOrderedAndProject cut. No global sort,
    and the corpus is tokenized/exploded/aggregated once, not twice
    (the two-pass form measured 20.1 s vs 14.8 s for one pass at 500k
    docs — the dominant stage would double at 100 TB)."""
    if k <= 0:
        raise ValueError(f"moore_lewis_select: k must be positive, "
                         f"got {k}")
    from .ranking import bounded_global_rank
    m_in = _model_tables(in_ref, text_col, top_v, min_bigram, sfx="_i")
    m_out = _model_tables(out_ref, text_col, top_v, min_bigram,
                          sfx="_o")
    pos = _bigram_rows(docs, text_col, keep_cols=(id_col,))
    j = _join_model(_join_model(pos, m_in), m_out)
    _hi, _bi, lp_in = _lp_exprs("_i")
    _ho, _bo, lp_out = _lp_exprs("_o")
    scored = (j.groupBy(id_col)
              .agg(F.count(F.lit(1)).alias("n_scored"),
                   F.sum(lp_in).alias("_lp_in"),
                   F.sum(lp_out).alias("_lp_out"))
              .select(id_col, "n_scored",
                      (F.col("_lp_in") - F.col("_lp_out"))
                      .alias("diff_micro")))
    key = F.col("diff_micro").cast("double") / F.col("n_scored")
    top = scored.orderBy(key.desc(), F.col(id_col).asc()).limit(int(k))
    ranked = bounded_global_rank(
        top, [key.desc(), F.col(id_col).asc()], rank_col="sel_rank")
    return ranked.select(
        id_col, "n_scored", "diff_micro",
        (F.floor(key) / F.lit(MICRO)).alias("ml_score"), "sel_rank")


# =========================================================== DuckDB oracle

_DUCK_TOKS = ("list_filter(string_split_regex(lower(text), '[^a-z]+'),"
              " t -> t <> '')")


def _duck_score_ctes(ref_pred: str, doc_pred: str = "TRUE",
                     text_col: str = "text", id_col: str = "doc_id",
                     top_v: int = 2000, min_bigram: int = 2,
                     p: str = "") -> str:
    """CTE block ending in ``{p}scored`` — the SQL twin of lm_score.
    ``p`` prefixes every CTE name so two blocks (e.g. the in-domain and
    out-domain models of moore_lewis_select) compose in one WITH."""
    return f"""
    {p}ref AS (SELECT {_DUCK_TOKS.replace('text', text_col)} AS t
            FROM documents WHERE {ref_pred}),
    {p}uni AS (SELECT unnest(t) AS w, FROM {p}ref),
    {p}uc AS (SELECT w, count(*) AS c_w FROM {p}uni GROUP BY w),
    {p}vocab AS (SELECT w, c_w FROM {p}uc
              QUALIFY row_number() OVER (ORDER BY c_w DESC, w ASC)
                  <= {int(top_v)}),
    {p}refbi AS (
        SELECT unnest(list_transform(range(1, len(t)),
                      i -> struct_pack(w1 := t[i], w2 := t[i+1]))) AS b
        FROM {p}ref WHERE len(t) >= 2),
    {p}bi AS (SELECT b.w1 AS w1, b.w2 AS w2, count(*) AS c_ab
           FROM {p}refbi
           JOIN {p}vocab v1 ON v1.w = b.w1
           JOIN {p}vocab v2 ON v2.w = b.w2
           GROUP BY 1, 2 HAVING count(*) >= {int(min_bigram)}),
    {p}consts AS (SELECT coalesce(sum(c_w), 1) AS n_uni,
                      greatest(count(*), 1) AS v FROM {p}vocab),
    {p}corpus AS (SELECT {id_col},
                      {_DUCK_TOKS.replace('text', text_col)} AS t
               FROM documents WHERE {doc_pred}),
    {p}pos AS (
        SELECT {id_col},
               unnest(list_transform(range(1, len(t)),
                      i -> struct_pack(w1 := t[i], w2 := t[i+1]))) AS b
        FROM {p}corpus WHERE len(t) >= 2),
    {p}terms AS (
        SELECT {id_col},
               bi.c_ab IS NOT NULL AS hit,
               bi.c_ab IS NULL AND uc2.c_w IS NOT NULL AS backoff,
               CAST(floor(
                   CASE
                     WHEN bi.c_ab IS NOT NULL THEN
                       ln(bi.c_ab::DOUBLE / uc1.c_w::DOUBLE)
                     WHEN uc2.c_w IS NOT NULL THEN
                       ln({BACKOFF} * uc2.c_w::DOUBLE / n_uni::DOUBLE)
                     ELSE ln({BACKOFF} / (n_uni + v)::DOUBLE)
                   END * {MICRO}) AS BIGINT) AS lp_micro
        FROM {p}pos pos
        LEFT JOIN {p}bi bi ON bi.w1 = pos.b.w1 AND bi.w2 = pos.b.w2
        LEFT JOIN {p}vocab uc1 ON uc1.w = pos.b.w1
        LEFT JOIN {p}vocab uc2 ON uc2.w = pos.b.w2
        CROSS JOIN {p}consts),
    {p}scored AS (
        SELECT {id_col},
               count(*) AS n_scored,
               sum(CASE WHEN hit THEN 1 ELSE 0 END)::BIGINT AS n_hit,
               sum(CASE WHEN backoff THEN 1 ELSE 0 END)::BIGINT
                   AS n_backoff,
               sum(CASE WHEN NOT hit AND NOT backoff THEN 1 ELSE 0 END)
                   ::BIGINT AS n_oov,
               -- ::BIGINT: DuckDB promotes integer SUM to HUGEINT, which
               -- poisons the driver's type-sensitive value hash
               sum(lp_micro)::BIGINT AS lp_micro
        FROM {p}terms GROUP BY {id_col})"""


def duck_lm_score_sql(ref_pred: str, **kw) -> str:
    id_col = kw.get("id_col", "doc_id")
    return f"""
    WITH {_duck_score_ctes(ref_pred, **kw)}
    SELECT {id_col}, n_scored, n_hit, n_backoff, n_oov, lp_micro,
           floor(lp_micro::DOUBLE / n_scored) / {MICRO} AS avg_logprob
    FROM scored
    """


def duck_moore_lewis_sql(in_pred: str, out_pred: str, k: int,
                         **kw) -> str:
    """SQL twin of moore_lewis_select: two prefixed score blocks, the
    id-keyed join, the exact-BIGINT difference and the deterministic
    (per-token gap desc, id) top-k cut."""
    id_col = kw.get("id_col", "doc_id")
    return f"""
    WITH {_duck_score_ctes(in_pred, p="a_", **kw)},
    {_duck_score_ctes(out_pred, p="b_", **kw)},
    j AS (SELECT a.{id_col} AS {id_col}, a.n_scored,
                 (a.lp_micro - b.lp_micro)::BIGINT AS diff_micro
          FROM a_scored a JOIN b_scored b USING ({id_col}))
    SELECT {id_col}, n_scored, diff_micro,
           floor(diff_micro::DOUBLE / n_scored) / {MICRO} AS ml_score,
           row_number() OVER (ORDER BY diff_micro::DOUBLE / n_scored
                              DESC, {id_col} ASC) AS sel_rank
    FROM j
    ORDER BY diff_micro::DOUBLE / n_scored DESC, {id_col} ASC
    LIMIT {int(k)}
    """


def duck_lm_bucket_sql(ref_pred: str, **kw) -> str:
    id_col = kw.get("id_col", "doc_id")
    return f"""
    WITH {_duck_score_ctes(ref_pred, **kw)},
    tiled AS (
        SELECT {id_col}, n_scored, lp_micro,
               floor(lp_micro::DOUBLE / n_scored) / {MICRO} AS avg_logprob,
               ntile(3) OVER (ORDER BY lp_micro::DOUBLE / n_scored DESC,
                              {id_col} ASC) AS tile
        FROM scored)
    SELECT {id_col}, n_scored, lp_micro, avg_logprob,
           CASE tile WHEN 1 THEN 'head' WHEN 2 THEN 'middle'
                ELSE 'tail' END AS bucket
    FROM tiled
    """
