"""Quality-classifier document filtering (GPT-3-shaped).

The GPT-3 data pipeline (Brown et al. 2020, public paper, Appendix A)
filters CommonCrawl with a classifier trained to separate a curated
positive corpus (WebText/Wikipedia/books) from raw web text, then keeps
a document stochastically when ``np.random.pareto(9) > 1 - score`` —
the Pareto draw readmits a long tail of low-scoring documents so the
kept set is not a hard cliff at the decision boundary. This module is
the distributed re-expression of that recipe with a multinomial Naive
Bayes classifier (the count-based classifier every engine can reproduce
exactly) and a DETERMINISTIC Pareto draw derived from the portable
per-document hash, so the sampled filter itself is engine-reproducible
and append-stable:

    score(d) = ln P(pos) - ln P(neg)
             + sum_w [ ln p(w|pos) - ln p(w|neg) ]
    p(w|cls) = (c_cls(w) + 1) / (N_cls + V)        (Laplace smoothing)

The distributed shape (the only one that works at 100 TB):

1. TRAIN: one unigram aggregate per class (map-side partials bound each
   task's output by the class vocabulary), a full outer join of the two
   count tables, and a deterministic top-``top_v`` vocabulary cut on
   (c_pos + c_neg desc, token) via TakeOrderedAndProject. The model is
   ONE table of <= top_v rows carrying BOTH class counts plus a 1-row
   consts aggregate — broadcastable by construction (the DSIR
   weight-table / lm.py model-table contract).
2. SCORE: explode each document's tokens, ONE broadcast join against
   the vocab table (both class counts arrive together — unlike the
   bigram LM there is no second lookup), and reduce per document. The
   corpus is never shuffled at token grain; the only corpus-keyed
   exchange is the per-document aggregate.
3. FILTER (pareto_filter): map-only over the scored frame — the keep
   decision is a pure function of (score, portable id-hash).

Engine-exactness contract (the lm.py pattern): every per-token log-prob
is a single ``ln`` of a ratio of exact BIGINTs, FLOORED to the 1e-6
grid and summed as BIGINT micro-nats; the class priors are two more
floored single-``ln`` terms. The Pareto keep test avoids ``pow`` with a
fractional exponent entirely: for integer alpha the condition
``pareto_sample(u) > 1 - q`` is equivalent to ``u > 1 - (2 - q)^-alpha``
(the Pareto CDF inverted), and ``(2 - q)^-alpha`` is built from an
explicit multiplication chain — both engines evaluate the identical
IEEE doubles, so the kept set matches bit-for-bit.

Reference parity note: the reference engine (pdenno/RADmapper) has no
classifier surface; this module is part of the training-data extension
stack, re-expressed from the public GPT-3 paper's documented filtering
rule — not translated from any implementation.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions import portable_hash as PH
# the micro-nat grid, the tokenization, and its SQL twin are IMPORTED
# from lm.py (not copied) so the two scoring families can never
# silently fork (r12 review)
from .lm import _DUCK_TOKS, MICRO, lm_tokens as _toks

PARETO_ALPHA = 9       # GPT-3's documented alpha
_U_DENOM = float(1 << 60)


def nb_model(pos_docs: DataFrame, neg_docs: DataFrame,
             text_col: str = "text", top_v: int = 2000):
    """Bounded Naive Bayes model: (vocab, consts) where vocab is ONE
    <= top_v-row table (w, c_pos, c_neg) and consts a 1-row frame
    (n_pos, n_neg, v, d_pos, d_neg). Priors and denominators stay
    INSIDE the lazy plan (1-row aggregates broadcast-crossed into the
    score rows — no eager scalar collects), with Laplace smoothing on
    the priors too so an empty class floors instead of ln(0)."""
    # ONE token pass over pos UNION neg (r17: the per-class form
    # exploded and shuffled each class's tokens into its own aggregate
    # and full-joined the two — two exchanges + a join for counts one
    # conditional aggregate computes; guide §2.3 "aggregate before you
    # shuffle" / §2.4 fewer exchanges. sum(flag) over BIGINT flags ==
    # the old per-class count(*) exactly, and a word absent from a
    # class sums its 0-flags to 0, the old coalesce(_, 0))
    one = F.lit(1).cast("long")
    zero = F.lit(0).cast("long")
    tagged = (pos_docs.select(F.explode(_toks(text_col)).alias("w"),
                              one.alias("_p"))
              .unionByName(
                  neg_docs.select(F.explode(_toks(text_col)).alias("w"),
                                  zero.alias("_p"))))
    allc = (tagged.groupBy("w")
            .agg(F.count(F.lit(1)).alias("_t"),
                 F.sum("_p").alias("c_pos"))
            .select("w", "c_pos",
                    (F.col("_t") - F.col("c_pos")).alias("c_neg")))
    vocab = (allc.orderBy((F.col("c_pos") + F.col("c_neg")).desc(),
                          F.col("w").asc())
             .limit(int(top_v)))
    # sum over an empty vocab is NULL (coalesce); count is 0, not NULL,
    # so the V floor needs greatest (the lm.py r9 lesson)
    consts = (vocab.agg(
        F.coalesce(F.sum("c_pos"), F.lit(0)).alias("n_pos"),
        F.coalesce(F.sum("c_neg"), F.lit(0)).alias("n_neg"),
        F.greatest(F.count(F.lit(1)), F.lit(1)).alias("v"))
        .crossJoin(pos_docs.agg(F.count(F.lit(1)).alias("d_pos")))
        .crossJoin(neg_docs.agg(F.count(F.lit(1)).alias("d_neg"))))
    return vocab, consts


def _lp_micro(count_col: str, n_col: str):
    """floor(ln((c+1) / (N+V)) * 1e6) as BIGINT — one ln of a ratio of
    exact integers (token-for-token mirrored by duck_nb_score_sql)."""
    lp = F.log((F.coalesce(F.col(count_col), F.lit(0)) + F.lit(1))
               .cast("double")
               / (F.col(n_col) + F.col("v")).cast("double"))
    return F.floor(lp * F.lit(MICRO)).cast("long")


def _prior_micro(d_col: str):
    """floor(ln((d_cls+1) / (d_pos+d_neg+2)) * 1e6) — Laplace-smoothed
    class prior on the same micro grid."""
    lp = F.log((F.col(d_col) + F.lit(1)).cast("double")
               / (F.col("d_pos") + F.col("d_neg") + F.lit(2))
               .cast("double"))
    return F.floor(lp * F.lit(MICRO)).cast("long")


def nb_score(docs: DataFrame, pos_docs: DataFrame = None,
             neg_docs: DataFrame = None,
             text_col: str = "text", id_col: str = "doc_id",
             top_v: int = 2000, model=None) -> DataFrame:
    """Score every document in ``docs`` (with >= 1 token) under a Naive
    Bayes classifier trained to separate ``pos_docs`` from ``neg_docs``.
    Returns (id_col, n_tokens, lp_pos_micro, lp_neg_micro, score_micro,
    nb_margin, label): score_micro is the exact-BIGINT log-odds in
    micro-nats (priors included), nb_margin the surfaced per-token
    float — floor(score_micro / n_tokens) back on the micro grid, never
    round() — and label 'pos' when the log-odds are positive.

    ``model``: callers holding a persisted (vocab, consts) pair from
    nb_model pass it instead of the training frames (the dedup `base=`
    contract) — with the lazy one-shot form the training subtree is
    instantiated TWICE in the plan (the vocab broadcast join and the
    1-row consts cross both derive from it), which is fine for a
    bounded reference but re-aggregates a 100 TB negative class; a
    persisted model makes scoring a single-pass map + per-doc reduce.
    The class priors ride through the per-doc aggregate as first()
    columns (constant over the whole frame), not a second post-agg
    cross — one fewer training instantiation either way."""
    if model is None:
        model = nb_model(pos_docs, neg_docs, text_col, top_v)
    vocab, consts = model
    pos = (docs.select(F.col(id_col),
                       F.explode(_toks(text_col)).alias("w"))
           .join(F.broadcast(vocab), "w", "left")
           .crossJoin(F.broadcast(consts)))
    j = (pos.groupBy(id_col)
         .agg(F.count(F.lit(1)).alias("n_tokens"),
              F.sum(_lp_micro("c_pos", "n_pos")).alias("lp_pos_micro"),
              F.sum(_lp_micro("c_neg", "n_neg")).alias("lp_neg_micro"),
              F.first("d_pos").alias("d_pos"),
              F.first("d_neg").alias("d_neg")))
    score = ((_prior_micro("d_pos") - _prior_micro("d_neg"))
             + (F.col("lp_pos_micro") - F.col("lp_neg_micro")))
    margin = F.floor(score.cast("double") / F.col("n_tokens"))
    return j.select(
        id_col, "n_tokens", "lp_pos_micro", "lp_neg_micro",
        score.alias("score_micro"),
        (margin / F.lit(MICRO)).alias("nb_margin"),
        F.when(score > 0, F.lit("pos")).otherwise(F.lit("neg"))
        .alias("label"))


def nb_model_params(consts) -> dict:
    """Collect the 1-row consts aggregate into plain ints (bounded by
    construction — five BIGINTs). The stream-capable scorer needs the
    denominators and priors as LITERALS: a 1-row static frame cannot be
    cross-joined into an unbounded stream, and literals keep the score
    a pure projection. The ln of each ratio still evaluates INSIDE each
    engine (never pre-computed in Python — the engine-exactness
    contract floors the engine's own IEEE ln)."""
    r = consts.first()
    return {k: int(r[k]) for k in ("n_pos", "n_neg", "v",
                                   "d_pos", "d_neg")}


def _lp_micro_lit(count_col: str, denom: int):
    """Literal-denominator twin of _lp_micro: floor(ln((c+1)/denom)*1e6)
    — the same IEEE division/ln/floor as the column form (ints < 2^53
    are exact doubles either way)."""
    lp = F.log((F.coalesce(F.col(count_col), F.lit(0)) + F.lit(1))
               .cast("double") / F.lit(float(denom)))
    return F.floor(lp * F.lit(MICRO)).cast("long")


def _prior_micro_lit(d_cls: int, d_tot2: int):
    lp = F.log(F.lit(float(d_cls + 1)) / F.lit(float(d_tot2)))
    return F.floor(lp * F.lit(MICRO)).cast("long")


def quality_admit(docs: DataFrame, vocab: DataFrame, params: dict,
                  text_col: str = "text", id_col: str = "doc_id",
                  salt: str = "pareto", streaming: bool = False,
                  ts_col: str = "ts",
                  watermark: str = "2 hours") -> DataFrame:
    """Stream-capable NB scoring + Pareto admission — the quality gate
    at INGEST time (score documents as they arrive, admit by the same
    deterministic Pareto rule as pareto_filter; the stream-native twin
    of nb_score |> pareto_filter, value-identical on the same rows).

    ``vocab`` is the bounded trained model table (static — trained
    batch-side on reference corpora, the production shape: you cannot
    train on an unbounded stream) and ``params`` its collected consts
    (nb_model_params). Scoring is one stream-static broadcast join on
    the token; with streaming=True the event-time column is CARRIED
    through the explode and the per-document aggregate groups on
    (id, event time) UNDER A WATERMARK — every exploded row of one
    document carries the document's single timestamp, so each group's
    STATE is evicted once the watermark passes (bounded state on an
    unbounded stream; never a raw groupBy(id), whose state would grow
    with every distinct document forever).

    Late-data contract (verified on Spark 4.1 with a minimal repro,
    r12): the watermark guarantees state EVICTION only — update-mode
    aggregation does NOT drop a late input row whose event time is
    below the watermark; it re-creates the group and emits it again.
    So an at-least-once source replaying a document AFTER its state
    was evicted produces a DUPLICATE admission row downstream. Pair
    this operator with an exactly-once source, or dedupe admissions
    downstream on (id_col, ts_col) — or run in append output mode,
    which withholds unfinalized groups instead of re-emitting them
    and is the safer default when the sink cannot upsert.

    Output: admitted rows only — (id_col[, ts_col], n_tokens,
    score_micro, quality, pareto_u)."""
    denom_pos = params["n_pos"] + params["v"]
    denom_neg = params["n_neg"] + params["v"]
    d_tot2 = params["d_pos"] + params["d_neg"] + 2
    carry = (ts_col,) if streaming else ()
    pos = (docs.select(F.col(id_col), *[F.col(c) for c in carry],
                       F.explode(_toks(text_col)).alias("w"))
           .join(F.broadcast(vocab), "w", "left"))
    if streaming:
        from ..streaming.windows import _ensure_ltz
        pos = _ensure_ltz(pos, ts_col).withWatermark(ts_col, watermark)
    agg = (pos.groupBy(id_col, *carry)
           .agg(F.count(F.lit(1)).alias("n_tokens"),
                F.sum(_lp_micro_lit("c_pos", denom_pos))
                .alias("_lp_p"),
                F.sum(_lp_micro_lit("c_neg", denom_neg))
                .alias("_lp_n")))
    prior = (_prior_micro_lit(params["d_pos"], d_tot2)
             - _prior_micro_lit(params["d_neg"], d_tot2))
    scored = agg.select(
        id_col, *carry, "n_tokens",
        (prior + (F.col("_lp_p") - F.col("_lp_n")))
        .alias("score_micro"))
    m = F.floor(F.col("score_micro").cast("double") / F.col("n_tokens"))
    q = F.least(F.greatest((m + F.lit(MICRO)) / F.lit(2.0 * MICRO),
                           F.lit(0.0)), F.lit(1.0))
    u = ((PH.ph60(F.concat(F.lit(f"{salt}:"),
                           F.col(id_col).cast("string")))
          + F.lit(1)).cast("double") / F.lit(_U_DENOM))
    return (scored.withColumn("quality", q).withColumn("pareto_u", u)
            .filter(F.col("pareto_u")
                    > _pareto_keep_threshold(F.col("quality")))
            .select(id_col, *carry, "n_tokens", "score_micro",
                    "quality", "pareto_u"))


def _pareto_keep_threshold(q):
    """1 - (2 - q)^-alpha as an explicit multiplication chain (alpha=9:
    ((i^2)^2)^2 * i) — no pow(), so both engines produce the identical
    IEEE double. q in [0, 1] => 2-q in [1, 2], never a zero divide."""
    inv = F.lit(1.0) / (F.lit(2.0) - q)
    p2 = inv * inv
    p4 = p2 * p2
    p8 = p4 * p4
    return F.lit(1.0) - p8 * inv


def pareto_filter(scored: DataFrame, id_col: str = "doc_id",
                  salt: str = "pareto") -> DataFrame:
    """GPT-3's documented stochastic admission rule over an ``nb_score``
    frame, made deterministic: a document is kept iff
    ``pareto_sample > 1 - quality`` where quality maps the per-token
    log-odds margin linearly onto [0, 1] (+-1 nat per token saturates)
    and the Pareto(alpha=9) sample is drawn from the document's portable
    md5 hash instead of an RNG. Inverting the Pareto CDF turns the test
    into ``u > 1 - (2 - quality)^-9`` — keep probability
    (2 - quality)^-9, i.e. ~1/512 at quality 0 rising to 1 at quality 1,
    exactly the paper's acceptance curve. Map-only, append-stable, and
    bit-reproducible in the DuckDB oracle (no pow, no RNG).

    Output: kept rows only — (id_col, n_tokens, score_micro, quality,
    pareto_u)."""
    m = F.floor(F.col("score_micro").cast("double") / F.col("n_tokens"))
    q = F.least(F.greatest((m + F.lit(MICRO)) / F.lit(2.0 * MICRO),
                           F.lit(0.0)), F.lit(1.0))
    u = ((PH.ph60(F.concat(F.lit(f"{salt}:"),
                           F.col(id_col).cast("string")))
          + F.lit(1)).cast("double") / F.lit(_U_DENOM))
    out = (scored
           .withColumn("quality", q)
           .withColumn("pareto_u", u)
           .filter(F.col("pareto_u")
                   > _pareto_keep_threshold(F.col("quality"))))
    return out.select(id_col, "n_tokens", "score_micro", "quality",
                      "pareto_u")


# =========================================================== DuckDB oracle


def _duck_nb_ctes(pos_pred: str, neg_pred: str, doc_pred: str = "TRUE",
                  text_col: str = "text", id_col: str = "doc_id",
                  top_v: int = 2000, doc_rel: str = "documents",
                  train_text_col: str = "text") -> str:
    """CTE block ending in ``nbscored`` — the SQL twin of nb_score.
    Expression shapes mirror the Spark plan token-for-token so both
    engines evaluate the identical IEEE doubles before the floor.
    ``doc_rel``/``text_col`` name the SCORED relation and its text
    column (the crawl pipeline scores extracted text with the
    corpus-trained model); training always reads documents via
    ``train_text_col`` — defaults reproduce the original twins
    byte-for-byte."""
    toks = _DUCK_TOKS.replace("text", text_col)
    train_toks = _DUCK_TOKS.replace("text", train_text_col)
    return f"""
    posref AS (SELECT {train_toks} AS t FROM documents WHERE {pos_pred}),
    negref AS (SELECT {train_toks} AS t FROM documents WHERE {neg_pred}),
    posc AS (SELECT w, count(*) AS c_pos
             FROM (SELECT unnest(t) AS w FROM posref) GROUP BY w),
    negc AS (SELECT w, count(*) AS c_neg
             FROM (SELECT unnest(t) AS w FROM negref) GROUP BY w),
    allc AS (SELECT w, coalesce(c_pos, 0) AS c_pos,
                    coalesce(c_neg, 0) AS c_neg
             FROM posc FULL JOIN negc USING (w)),
    nbvocab AS (SELECT w, c_pos, c_neg FROM allc
             QUALIFY row_number() OVER (ORDER BY (c_pos + c_neg) DESC,
                                        w ASC) <= {int(top_v)}),
    nbconsts AS (SELECT coalesce(sum(c_pos), 0) AS n_pos,
                        coalesce(sum(c_neg), 0) AS n_neg,
                        greatest(count(*), 1) AS v,
                        (SELECT count(*) FROM documents
                         WHERE {pos_pred}) AS d_pos,
                        (SELECT count(*) FROM documents
                         WHERE {neg_pred}) AS d_neg
                 FROM nbvocab),
    nbpos AS (SELECT {id_col}, unnest(t) AS w
              FROM (SELECT {id_col}, {toks} AS t
                    FROM {doc_rel} WHERE {doc_pred})),
    nbterms AS (
        SELECT {id_col},
               CAST(floor(ln((coalesce(vc.c_pos, 0) + 1)::DOUBLE
                             / (n_pos + v)::DOUBLE) * {MICRO})
                    AS BIGINT) AS lp_pos,
               CAST(floor(ln((coalesce(vc.c_neg, 0) + 1)::DOUBLE
                             / (n_neg + v)::DOUBLE) * {MICRO})
                    AS BIGINT) AS lp_neg
        FROM nbpos LEFT JOIN nbvocab vc USING (w)
        CROSS JOIN nbconsts),
    nbagg AS (
        SELECT {id_col}, count(*) AS n_tokens,
               sum(lp_pos)::BIGINT AS lp_pos_micro,
               sum(lp_neg)::BIGINT AS lp_neg_micro
        FROM nbterms GROUP BY {id_col}),
    nbscored AS (
        SELECT {id_col}, n_tokens, lp_pos_micro, lp_neg_micro,
               ((CAST(floor(ln((d_pos + 1)::DOUBLE
                               / (d_pos + d_neg + 2)::DOUBLE) * {MICRO})
                      AS BIGINT)
                 - CAST(floor(ln((d_neg + 1)::DOUBLE
                                 / (d_pos + d_neg + 2)::DOUBLE)
                              * {MICRO}) AS BIGINT))
                + (lp_pos_micro - lp_neg_micro))::BIGINT AS score_micro
        FROM nbagg CROSS JOIN nbconsts)"""


def duck_nb_score_sql(pos_pred: str, neg_pred: str, **kw) -> str:
    id_col = kw.get("id_col", "doc_id")
    return f"""
    WITH {_duck_nb_ctes(pos_pred, neg_pred, **kw)}
    SELECT {id_col}, n_tokens, lp_pos_micro, lp_neg_micro, score_micro,
           floor(score_micro::DOUBLE / n_tokens) / {MICRO} AS nb_margin,
           CASE WHEN score_micro > 0 THEN 'pos' ELSE 'neg' END AS label
    FROM nbscored
    """


def _duck_kept_ctes(pos_pred: str, neg_pred: str,
                    salt: str = "pareto", **kw) -> str:
    """WITH-body ending in ``kept`` (the admitted rows): nb CTEs + the
    same clamp, the same md5-derived uniform, the same
    multiplication-chain CDF inversion as pareto_filter/quality_admit."""
    id_col = kw.get("id_col", "doc_id")
    u = PH.duck_ph60(f"'{salt}:' || {id_col}::VARCHAR")
    return f"""{_duck_nb_ctes(pos_pred, neg_pred, **kw)},
    q AS (SELECT {id_col}, n_tokens, score_micro,
                 least(greatest(
                     (floor(score_micro::DOUBLE / n_tokens) + {MICRO})
                         / {2.0 * MICRO}, 0.0), 1.0) AS quality,
                 ({u} + 1)::DOUBLE / {_U_DENOM} AS pareto_u
          FROM nbscored),
    pw AS (SELECT *, 1.0 / (2.0 - quality) AS inv,
                  (1.0 / (2.0 - quality)) * (1.0 / (2.0 - quality))
                      AS p2
           FROM q),
    pw2 AS (SELECT *, p2 * p2 AS p4 FROM pw),
    pw3 AS (SELECT *, p4 * p4 AS p8 FROM pw2),
    kept AS (SELECT {id_col}, n_tokens, score_micro, quality, pareto_u
             FROM pw3 WHERE pareto_u > 1.0 - p8 * inv)"""


def duck_pareto_filter_sql(pos_pred: str, neg_pred: str,
                           salt: str = "pareto", **kw) -> str:
    """SQL twin of nb_score |> pareto_filter."""
    return f"""
    WITH {_duck_kept_ctes(pos_pred, neg_pred, salt, **kw)}
    SELECT * FROM kept
    """


def duck_admit_stats_sql(pos_pred: str, neg_pred: str,
                         group_col: str = "source",
                         salt: str = "pareto", **kw) -> str:
    """SQL twin of the per-group admission telemetry over
    quality_admit's kept set (the stream_quality_filter batch twin)."""
    id_col = kw.get("id_col", "doc_id")
    return f"""
    WITH {_duck_kept_ctes(pos_pred, neg_pred, salt, **kw)}
    SELECT d.{group_col} AS {group_col},
           count(*)::BIGINT AS n_admitted,
           sum(k.n_tokens)::BIGINT AS admitted_tokens,
           sum(k.score_micro)::BIGINT AS score_sum
    FROM kept k JOIN documents d USING ({id_col})
    GROUP BY d.{group_col}
    """


def score_calibration(scored: DataFrame, labels: DataFrame, k: int = 10,
                      id_col: str = "doc_id",
                      score_col: str = "score_micro",
                      label_col: str = "is_pos") -> DataFrame:
    """Classifier calibration diagnostic: exact score quantiles vs the
    true class rate — tile 1 = highest scores; a well-trained quality
    classifier concentrates the positive class in the low tiles. The
    tile cut is the exact distributed ntile (ranking.global_ntile —
    never a single-partition window; ties broken by id so the cut is
    deterministic and the SQL ntile twin reproduces it); ``labels`` is
    an (id, 0/1) frame joined at id grain; the output is one bounded
    k-row aggregate: (tile, n_docs, n_pos).

    This is the eval loop a production quality gate needs: retrain ->
    calibrate -> pick the admission quantile."""
    from .ranking import global_ntile
    tiled = global_ntile(scored.select(id_col, score_col), k,
                         [F.col(score_col).desc(), F.col(id_col).asc()],
                         tile_col="tile")
    out = (tiled.join(labels.select(id_col, label_col), id_col)
           .groupBy("tile")
           .agg(F.count(F.lit(1)).alias("n_docs"),
                F.sum(F.col(label_col).cast("long")).alias("n_pos")))
    return out.select(F.col("tile").cast("long").alias("tile"),
                      "n_docs", "n_pos")
