"""Deterministic sampling / dataset-splitting operators (training-data
extensions, same tier as dedup/ANN: what a 100 TB corpus pipeline needs).

All decisions are pure functions of a row's id via the portable md5 hash
family (functions/portable_hash.py), so:

- results are reproducible across runs, engines, and cluster sizes — no
  ``rand()``, no seed-per-partition trap, and the DuckDB oracle can
  recompute every assignment bit-for-bit;
- ``hash_split`` / ``deterministic_sample`` are MAP-ONLY: no shuffle, no
  state — at 100 TB the split is free (a projection fused into the scan);
- adding data never reassigns existing rows (the hash ignores row count),
  the property that keeps train/test splits stable as a corpus grows —
  a random or row_number split reshuffles everything on every append.

``cap_per_group`` (stratified downsampling to N rows per group) is the
one op that needs a shuffle: a window rank over (group, hash). Hash-order
makes the kept subset a uniform-without-replacement sample of the group,
stable under appends in the sense that a kept row is evicted only when a
lower-hash row arrives.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions import portable_hash as PH


def _bucket(id_col, salt: str, buckets: int):
    """Deterministic bucket in [0, buckets): portable 60-bit hash of
    '<salt>:<id>' — identical in DuckDB SQL (see duck_bucket_sql)."""
    return PH.ph60(F.concat(F.lit(salt + ":"), F.col(id_col).cast("string"))) \
        % F.lit(int(buckets)).cast("long")


def duck_bucket_sql(id_expr: str, salt: str, buckets: int) -> str:
    """DuckDB text computing the same bucket as _bucket."""
    h = PH.duck_ph60(f"'{salt}:' || ({id_expr})::VARCHAR")
    return f"({h} % {int(buckets)})"


def hash_split(df: DataFrame, id_col: str, splits: dict | None = None,
               salt: str = "split", buckets: int = 1000) -> DataFrame:
    """Assign each row to a named split by hash bucket. splits maps name ->
    fraction (fractions sum to <= 1; remainder falls into the last split).
    Map-only: adds `bucket` and `split` columns, no shuffle. The
    assignment rule itself lives in split_expr (one definition — r13
    review: this body was the ladder's second copy)."""
    return (df.withColumn("bucket", _bucket(id_col, salt, buckets))
            .withColumn("split",
                        split_expr(id_col, splits, salt, buckets)))


def duck_split_case(bucket_expr: str, splits: dict | None = None,
                    buckets: int = 1000) -> str:
    """DuckDB CASE expression mirroring hash_split's assignment."""
    splits = splits or {"train": 0.8, "val": 0.1, "test": 0.1}
    names = list(splits)
    acc, arms = 0.0, []
    for name in names[:-1]:
        acc += splits[name]
        arms.append(f"WHEN {bucket_expr} < {int(round(acc * buckets))} THEN '{name}'")
    return "CASE " + " ".join(arms) + f" ELSE '{names[-1]}' END"


def deterministic_sample(df: DataFrame, id_col: str, rate: float,
                         salt: str = "sample", buckets: int = 100_000) -> DataFrame:
    """Keep ~rate of rows, decided per-row by hash — reproducible,
    append-stable, map-only (the filter pushes into the scan)."""
    return df.filter(_bucket(id_col, salt, buckets)
                     < F.lit(int(round(rate * buckets))))


def cap_per_group(df: DataFrame, group_cols, id_col: str, n: int,
                  salt: str = "cap") -> DataFrame:
    """Uniform downsample to at most n rows per group: rank rows within
    each group by (hash, id) and keep the n smallest. One shuffle on the
    group key; AQE splits skewed (hot) groups. Adds `sample_rank`."""
    group_cols = [group_cols] if isinstance(group_cols, str) else list(group_cols)
    w = Window.partitionBy(*group_cols).orderBy(
        _bucket(id_col, salt, 1 << 40).asc(), F.col(id_col).asc())
    return (df.withColumn("sample_rank", F.row_number().over(w))
            .filter(F.col("sample_rank") <= n))


def duck_cap_rank_sql(group_expr: str, id_expr: str,
                      salt: str = "cap") -> str:
    """DuckDB twin of cap_per_group's rank rule — the hash-order
    row_number expression (QUALIFY on it reproduces the kept set).
    ONE definition for every entry oracle that caps per group
    (sample_per_group, host_volume_cap — r14 review: the rule lived in
    two hand-pasted SQL bodies that a salt/modulus change would have
    had to chase)."""
    from ..functions import portable_hash as PH
    h = PH.duck_ph60(f"'{salt}:' || ({id_expr})::VARCHAR")
    return (f"row_number() OVER (PARTITION BY {group_expr} "
            f"ORDER BY ({h} % {1 << 40}) ASC, {id_expr} ASC)")


def mixture_sample(df: DataFrame, group_col: str, rates: DataFrame,
                   id_col: str, salt: str = "mix",
                   buckets: int = 100_000) -> DataFrame:
    """Per-group deterministic sampling at group-specific rates: `rates`
    is a (group, rate) frame (rate in [0,1], e.g. derived from
    profiling.source_mixture to rebalance a domain mixture). The rate
    table is broadcast; the keep decision is the same portable per-row
    hash as deterministic_sample — map-only over the fact side,
    reproducible across engines/cluster sizes, append-stable. Rows in
    groups missing from `rates` are dropped (rate 0)."""
    cut = F.floor(F.col("rate") * buckets).cast("long")
    return (df.join(F.broadcast(rates), group_col)
            .filter(_bucket(id_col, salt, buckets) < cut)
            .drop("rate"))


def weighted_sample_per_group(df: DataFrame, group_col: str, id_col: str,
                              weight_col: str, k: int,
                              salt: str = "ws") -> DataFrame:
    """Weighted sampling WITHOUT replacement, k per group
    (Efraimidis–Spirakis A-ES): each row draws u in (0,1] from its
    portable id-hash and ranks on ln(u)/w — the top-k rows per group are
    exactly a weighted sample without replacement. Deterministic,
    append-stable (a kept row is evicted only by a stronger newcomer),
    and engine-reproducible: u comes from the 60-bit md5 hash and the
    key is two IEEE ops (log, divide) on identical inputs, so the
    DuckDB oracle computes the identical ordering. Zero-or-negative
    weights never win (key -> -inf).

    One shuffle (the per-group rank window); the key is computed in the
    scan projection. Output: (group, id, weight, sample_rank).
    """
    u = (PH.ph60(F.concat(F.lit(f"{salt}:"),
                          F.col(id_col).cast("string")))
         + F.lit(1)).cast("double") / F.lit(float(1 << 60))
    w = F.col(weight_col).cast("double")
    key = F.when(w > 0, F.log(u) / w).otherwise(F.lit(float("-inf")))
    ranked = df.select(
        F.col(group_col), F.col(id_col), F.col(weight_col),
        F.row_number().over(
            Window.partitionBy(group_col)
            .orderBy(key.desc(), F.col(id_col).asc()))
        .alias("sample_rank"))
    return ranked.filter(F.col("sample_rank") <= k)


def _with_shards(df: DataFrame, rank_col: str,
                 shard_size: int) -> DataFrame:
    """THE shard layout rule, shared by corpus_shuffle and
    mixture_interleave (and mirrored by _duck_shard_cols below):
    shard = (rank-1) div shard_size, shard_pos = (rank-1) mod
    shard_size — every shard but the last holds exactly shard_size
    rows. One definition so a future layout change cannot silently
    fork the two operators or their oracles (r12 second review)."""
    r0 = F.col(rank_col) - F.lit(1)
    return (df.withColumn("shard", F.floor(r0 / F.lit(int(shard_size)))
                          .cast("long"))
            .withColumn("shard_pos", (r0 % F.lit(int(shard_size)))
                        .cast("long")))


def _duck_shard_cols(rank_col: str, shard_size: int) -> str:
    """SQL twin of _with_shards' two columns (appended to a SELECT over
    a subquery that already computed ``rank_col``)."""
    return f""",
           ({rank_col} - 1) // {int(shard_size)} AS shard,
           ({rank_col} - 1) % {int(shard_size)} AS shard_pos"""


def _epoch_salt(salt: str, epoch) -> str:
    """Effective permutation salt for an epoch. epoch=None keeps the
    bare salt (byte-compatible with every pre-epoch layout); an integer
    epoch folds into the hash input, so each epoch is an INDEPENDENT
    deterministic permutation of the same id set — real training
    reshuffles per epoch, and this is the whole reshuffle: no data
    moves, only the rank recomputes (r12 verdict item #5).

    The encoding is kept INJECTIVE by rejecting bare salts that already
    end in the epoch suffix: otherwise salt='run:e2' with epoch=None
    would produce the byte-identical permutation as salt='run' with
    epoch=2, silently correlating two supposedly independent training
    orders (r13 review)."""
    import re
    if re.search(r":e\d+$", salt):
        raise ValueError(
            f"salt {salt!r} ends in the reserved epoch suffix ':e<n>' — "
            f"pass epoch= instead (the encoding must stay injective)")
    if epoch is None:
        return salt
    e = int(epoch)
    if e < 0:
        raise ValueError(f"epoch must be >= 0, got {epoch}")
    return f"{salt}:e{e}"


def corpus_shuffle(df: DataFrame, id_col: str, shard_size: int,
                   salt: str = "shuffle",
                   epoch: int | None = None) -> DataFrame:
    """Deterministic global training shuffle + fixed-size sharding —
    the "shuffle once offline, read shards sequentially every epoch"
    preparation step of a training pipeline (random access at train
    time traded for one offline permutation; the standard recipe behind
    e.g. webdataset/TFRecord shard layouts). The permutation key is the
    portable 60-bit md5 hash of the salted id (uniform; ties broken by
    id), so the order is a PURE FUNCTION of (salt, epoch, ids):
    re-runs, other cluster sizes, and the DuckDB oracle all produce the
    identical permutation — no rand(), no seed-per-partition trap.
    ``epoch`` (optional) folds into the salt (_epoch_salt), giving
    every training epoch its own independent permutation of the same
    id set while epoch=None stays byte-compatible with the un-epoched
    layout; each epoch's order is append-stable (new ids interleave
    without reordering existing ones — the hash depends only on the
    id).

    Rank comes from ranking.global_rank (range exchange + P-row
    offsets — never a single-partition window); then
    shard = (rank-1) div shard_size and shard_pos = (rank-1) mod
    shard_size, so every shard except the last holds exactly
    ``shard_size`` rows. At 100 TB this is the pipeline's one
    legitimate global sort and it runs on an 8-byte key; the output is
    ready for a partitionBy("shard") write (sources/writers.py).

    Output: df's columns + (shuffle_rank, shard, shard_pos)."""
    if shard_size <= 0:
        raise ValueError(f"corpus_shuffle: shard_size must be positive, "
                         f"got {shard_size}")
    from .ranking import _free_name, global_rank
    key = _free_name(df, "_rm_shufkey")
    keyed = df.withColumn(
        key, PH.ph60(F.concat(F.lit(f"{_epoch_salt(salt, epoch)}:"),
                              F.col(id_col).cast("string"))))
    ranked = global_rank(keyed,
                         [F.col(key).asc(), F.col(id_col).asc()],
                         rank_col="shuffle_rank")
    return _with_shards(ranked, "shuffle_rank", shard_size).drop(key)


def duck_corpus_shuffle_sql(id_expr: str, shard_size: int,
                            salt: str = "shuffle",
                            from_table: str = "documents",
                            epoch: int | None = None) -> str:
    """DuckDB twin of corpus_shuffle's (id, rank, shard, pos) columns."""
    h = PH.duck_ph60(f"'{_epoch_salt(salt, epoch)}:' || ({id_expr})::VARCHAR")
    return f"""
    SELECT {id_expr}, shuffle_rank{_duck_shard_cols("shuffle_rank",
                                                    shard_size)}
    FROM (SELECT {id_expr},
                 row_number() OVER (ORDER BY {h} ASC, {id_expr} ASC)
                     AS shuffle_rank
          FROM {from_table})
    """


def mixture_interleave(df: DataFrame, group_col: str, id_col: str,
                       shard_size: int = 0,
                       salt: str = "interleave") -> DataFrame:
    """Source-proportional deterministic interleaving: a global reading
    order in which every prefix holds each source in (approximately)
    its corpus-wide proportion — the read-time complement of a domain
    mixture (no runtime sampler needed; a training run that stops early
    has still seen the right mixture). The classic stride construction:
    within each source, rows get a deterministic hash order
    (row_number over a PARTITIONED window — scalable, never an empty
    partition spec); row r of a source with n rows gets interleave key
    (r - 0.5) / n, and the global order sorts by that key (ties broken
    by (group, id)). Uniform strides of unequal sizes mesh
    proportionally — the same fractional-position rule as weighted
    fair queueing.

    Engine-exact: the key is ONE IEEE division of exact integers
    ((2r-1)/2n computed as (r - 0.5)/n — both engines produce the
    identical double), and the final rank is ranking.global_rank.
    With shard_size > 0, shard/shard_pos arithmetic is appended (the
    corpus_shuffle layout, mixture-balanced per shard).

    Output: df's columns + (interleave_rank[, shard, shard_pos])."""
    if shard_size < 0:
        raise ValueError(f"mixture_interleave: shard_size must be >= 0 "
                         f"(0 disables sharding), got {shard_size}")
    from .ranking import _free_name, global_rank
    rk, nk, kk = (_free_name(df, "_rm_gr"), _free_name(df, "_rm_gn"),
                  _free_name(df, "_rm_ik"))
    h = PH.ph60(F.concat(F.lit(f"{salt}:"),
                         F.col(id_col).cast("string")))
    w = Window.partitionBy(group_col).orderBy(h.asc(),
                                              F.col(id_col).asc())
    keyed = (df.withColumn(rk, F.row_number().over(w).cast("long"))
             .withColumn(nk, F.count(F.lit(1))
                         .over(Window.partitionBy(group_col))
                         .cast("long"))
             .withColumn(kk, (F.col(rk).cast("double") - F.lit(0.5))
                         / F.col(nk).cast("double")))
    ranked = global_rank(
        keyed, [F.col(kk).asc(), F.col(group_col).asc(),
                F.col(id_col).asc()],
        rank_col="interleave_rank")
    out = ranked.drop(rk, nk, kk)
    return (_with_shards(out, "interleave_rank", shard_size) if shard_size
            else out)


def duck_mixture_interleave_sql(group_expr: str, id_expr: str,
                                shard_size: int = 0,
                                salt: str = "interleave",
                                from_table: str = "documents") -> str:
    """DuckDB twin of mixture_interleave's output columns."""
    h = PH.duck_ph60(f"'{salt}:' || ({id_expr})::VARCHAR")
    # DuckDB lateral alias reference: shard cols read the rank alias
    # defined in the same SELECT — the one shared layout rule
    shard_cols = (_duck_shard_cols("interleave_rank", shard_size)
                  if shard_size else "")
    return f"""
    WITH keyed AS (
        SELECT {id_expr}, {group_expr},
               (row_number() OVER (PARTITION BY {group_expr}
                                   ORDER BY {h} ASC, {id_expr} ASC)
                ::DOUBLE - 0.5)
               / (count(*) OVER (PARTITION BY {group_expr}))::DOUBLE
                   AS ik
        FROM {from_table})
    SELECT {id_expr}, {group_expr},
           row_number() OVER (ORDER BY ik ASC, {group_expr} ASC,
                              {id_expr} ASC) AS interleave_rank{shard_cols}
    FROM keyed
    """


# ------------------------------------------------- r13: training-mix ops

#: weight grid for temperature-scaled mixture weights: floor(c^alpha *
#: WGRID) puts the (correctly-rounded) root onto an exact BIGINT grid,
#: so the weight table and every downstream integer division reproduce
#: bit-for-bit in the DuckDB oracle.
WGRID = 1_000_000


def token_budget_select(scored: DataFrame, budget: int, order_cols,
                        weight_col: str, cum_col: str = "cum_tokens",
                        rank_col: str = "select_rank") -> DataFrame:
    """Quality-ordered selection under an exact global TOKEN budget —
    the "take the best data until the budget is spent" step of a
    data-constrained training mix (cf. Data-Constrained Scaling Laws:
    rank by a quality signal, cut by token count, not doc count). Rows
    are ordered by ``order_cols`` (a total order — callers pass a
    unique tiebreaker), the integral ``weight_col`` is running-summed
    GLOBALLY AND EXACTLY via ranking.global_cumsum (range exchange +
    P-row offsets — never a single-partition window), and a row is
    kept iff its running total is still within ``budget`` (the first
    overflowing row is dropped: every kept prefix fits the budget).

    At 100 TB the plan is ONE range shuffle on the (typically 8-16
    byte) order key plus bounded bookkeeping; the budget filter is a
    map over the exchanged rows. BIGINT weights keep the running total
    partition-order-independent, so the kept set is a pure function of
    (scores, weights) — reproducible across cluster sizes and in the
    DuckDB twin (duck_token_budget_sql).

    Output: scored's columns + (rank_col, cum_col), filtered to the
    kept prefix."""
    if budget < 0:
        raise ValueError(f"token_budget_select: budget must be >= 0, "
                         f"got {budget}")
    from .ranking import global_cumsum
    cum = global_cumsum(scored, order_cols, weight_col,
                        cum_col=cum_col, rank_col=rank_col)
    return cum.filter(F.col(cum_col) <= F.lit(int(budget)))


def duck_token_budget_sql(rel: str, budget: int, order_sql: str,
                          weight_expr: str, select_cols: str,
                          cum_col: str = "cum_tokens",
                          rank_col: str = "select_rank") -> str:
    """DuckDB twin of token_budget_select over relation text ``rel``
    (any table / CTE name whose columns include the order + weight
    columns). ROWS UNBOUNDED PRECEDING is explicit: with a total order
    it equals the default RANGE frame, but we pin the frame the Spark
    window uses."""
    return f"""
    SELECT {select_cols}, {rank_col}, {cum_col}
    FROM (SELECT *,
                 row_number() OVER (ORDER BY {order_sql}) AS {rank_col},
                 sum({weight_expr}) OVER (
                     ORDER BY {order_sql}
                     ROWS UNBOUNDED PRECEDING)::BIGINT AS {cum_col}
          FROM {rel})
    WHERE {cum_col} <= {int(budget)}
    """


def _temp_weight(c, alpha: float):
    """count^alpha on the exact WGRID BIGINT grid. alpha is restricted
    to {1, 0.5, 0.25}: sqrt is CORRECTLY ROUNDED in IEEE 754 (unlike
    pow with a fractional exponent, which is only faithfully rounded
    and may differ between libm builds), so sqrt / sqrt∘sqrt /
    identity are the temperature exponents both engines compute
    bit-identically — the same no-fractional-pow rule as the Pareto
    CDF inversion in classifier.pareto_filter.

    alpha == 1 skips the grid entirely: counts are ALREADY exact
    BIGINTs, and a uniform scale factor cancels exactly in the
    downstream integer quotients ((k*c*M) div (S*M) == (k*c) div S,
    remainders scale uniformly so seat order is unchanged) — skipping
    it only widens the overflow headroom (k * WGRID * c must fit
    INT64 otherwise; the fuzz test caught the alpha=1 overflow at
    c ~ 3e11, k = 34). For the root alphas the product k * WGRID *
    sqrt(c) stays inside INT64 for any k <= 1e6 over corpora up to
    1e12 rows per group."""
    d = c.cast("double")
    if alpha == 1.0:
        return c.cast("long")
    elif alpha == 0.5:
        root = F.sqrt(d)
    elif alpha == 0.25:
        root = F.sqrt(F.sqrt(d))
    else:
        raise ValueError(
            f"mixture_temperature: alpha must be one of 1, 0.5, 0.25 "
            f"(exactly-reproducible roots), got {alpha}")
    return F.floor(root * F.lit(float(WGRID))).cast("long")


def _duck_temp_weight(c_expr: str, alpha: float) -> str:
    if alpha == 1.0:
        return f"({c_expr})::BIGINT"
    elif alpha == 0.5:
        root = f"sqrt(({c_expr})::DOUBLE)"
    elif alpha == 0.25:
        root = f"sqrt(sqrt(({c_expr})::DOUBLE))"
    else:
        raise ValueError(f"alpha must be one of 1, 0.5, 0.25, got {alpha}")
    return f"CAST(floor({root} * {WGRID}) AS BIGINT)"


def mixture_temperature(df: DataFrame, group_col: str, id_col: str,
                        k: int, alpha: float = 0.5,
                        salt: str = "mixtemp") -> DataFrame:
    """Temperature-scaled mixture sampling (the multilingual /
    multi-domain alpha-sampling rule of mBERT/XLM-R: sample group g
    with probability proportional to count_g^alpha, alpha < 1 boosting
    low-resource groups): choose per-group TARGET counts for a total
    draw of ``k`` rows, then keep each group's first target_n rows in
    deterministic hash order.

    Exact integer allocation (largest-remainder / Hamilton): per-group
    weights w_g = floor(count_g^alpha * WGRID) as BIGINTs, base quota
    base_g = (k * w_g) div (sum w), and the leftover k - sum(base)
    seats (< number of groups by construction) go to the largest
    remainders (ties broken by group key) — so sum(target) == k
    exactly, with no float accumulation anywhere: the only IEEE steps
    are the correctly-rounded root and one multiply before the floor
    (see _temp_weight). A group smaller than its target keeps all its
    rows (rank caps at the group size; alpha-upsampling never invents
    rows — repeat-epoch upsampling is corpus_shuffle's epoch= job).

    Scale shape: the weight/target table is ONE map-side-combined
    groupBy whose result is bounded by the number of groups; ALL the
    allocation arithmetic (total weight, base quotas, remainder seats)
    then runs as window sums over that single coalesced bounded
    partition — the bounded_global_rank pattern, one pass, no
    cross-joined scalar aggregates re-instantiating the corpus
    aggregation. The kept set is one per-group rank window (same
    shuffle as cap_per_group) + a map filter against the broadcast
    target table. The corpus is aggregated once and shuffled once on
    the group key, never all-pairs, never through a driver loop.

    Output: (id_col, group_col, mix_rank, target_n) for kept rows.
    """
    if k <= 0:
        raise ValueError(f"mixture_temperature: k must be positive, "
                         f"got {k}")
    c, w, tw = "_rm_mt_c", "_rm_mt_w", "_rm_mt_tw"
    base, rem, sb = "_rm_mt_base", "_rm_mt_rem", "_rm_mt_sb"
    # the whole bounded (<= n_groups rows) allocation on ONE task:
    # coalesce(1) + pid-keyed windows (the bounded_global_rank shape)
    wall = Window.partitionBy(F.spark_partition_id())
    # seat tiebreak: NULLS LAST explicitly — Spark's bare asc() is
    # nulls-first while DuckDB's is nulls-last, so without the pin the
    # one remainder seat of two equal-weight groups (one NULL) lands
    # on different groups per engine (r13 second review)
    wseat = wall.orderBy(F.col(rem).desc(),
                         F.col(group_col).asc_nulls_last())
    targets = (df.groupBy(group_col)
               .agg(F.count(F.lit(1)).alias(c))
               .withColumn(w, _temp_weight(F.col(c), alpha))
               .coalesce(1)
               .withColumn(tw, F.sum(w).over(wall))
               .withColumn(base, F.expr(f"CAST({int(k)} AS BIGINT) "
                                        f"* {w} DIV {tw}"))
               .withColumn(rem, F.expr(f"(CAST({int(k)} AS BIGINT) "
                                       f"* {w}) % {tw}"))
               .withColumn(sb, F.sum(base).over(wall))
               .withColumn("target_n",
                           (F.col(base)
                            + F.when(F.row_number().over(wseat)
                                     <= F.lit(int(k)) - F.col(sb),
                                     F.lit(1)).otherwise(F.lit(0)))
                           .cast("long"))
               .select(group_col, "target_n"))
    h = PH.ph60(F.concat(F.lit(f"{salt}:"),
                         F.col(id_col).cast("string")))
    wrank = Window.partitionBy(group_col).orderBy(h.asc(),
                                                  F.col(id_col).asc())
    # NULL-SAFE group join (r13 review): groupBy counts a NULL group
    # into the target table, and a plain equi-join would silently drop
    # those rows — losing allocated seats with no error. eqNullSafe
    # (IS NOT DISTINCT FROM in the DuckDB twin) keeps the null group a
    # first-class mixture component.
    tg = "_rm_mt_g"
    ranked = (df.select(id_col, group_col)
              .withColumn("mix_rank",
                          F.row_number().over(wrank).cast("long")))
    return (ranked.join(
        F.broadcast(targets.withColumnRenamed(group_col, tg)),
        F.col(group_col).eqNullSafe(F.col(tg)))
        .filter(F.col("mix_rank") <= F.col("target_n"))
        .select(id_col, group_col, "mix_rank", "target_n"))


def duck_mixture_temperature_sql(group_expr: str, id_expr: str, k: int,
                                 alpha: float = 0.5,
                                 salt: str = "mixtemp",
                                 from_table: str = "documents",
                                 group_name: str = None,
                                 id_name: str = None) -> str:
    """DuckDB twin of mixture_temperature (same largest-remainder
    integer allocation, same hash order). ``group_expr``/``id_expr``
    may be arbitrary SQL expressions — the inner scan aliases them to
    ``group_name``/``id_name`` and the outer select/join reference only
    the aliases (r13 advice: the previous body re-selected the raw
    expression text outside its scope, valid only for bare column
    names). The names default to the expression text, which therefore
    must be a bare identifier unless a name is given explicitly."""
    import re as _re
    gname = group_name or group_expr
    iname = id_name or id_expr
    for nm, kind in ((gname, "group_name"), (iname, "id_name")):
        if not _re.fullmatch(r"[A-Za-z_][A-Za-z0-9_]*", nm):
            raise ValueError(
                f"duck_mixture_temperature_sql: {kind} {nm!r} is not a "
                f"bare identifier — pass {kind}= explicitly when the "
                f"expression is computed")
    wsql = _duck_temp_weight("c", alpha)
    h = PH.duck_ph60(f"'{salt}:' || ({id_expr})::VARCHAR")
    return f"""
    WITH mtw AS (SELECT {group_expr} AS g, count(*) AS c,
                        {wsql} AS w
                 FROM {from_table} GROUP BY 1),
    mtq AS (SELECT g, ({int(k)}::BIGINT * w) // (SELECT sum(w) FROM mtw)
                       AS base,
                   ({int(k)}::BIGINT * w) % (SELECT sum(w) FROM mtw)
                       AS rem
            FROM mtw),
    mtt AS (SELECT g,
                   (base + CASE WHEN row_number() OVER (
                                    ORDER BY rem DESC,
                                             g ASC NULLS LAST)
                                <= {int(k)} - (SELECT sum(base) FROM mtq)
                           THEN 1 ELSE 0 END)::BIGINT AS target_n
            FROM mtq),
    mtr AS (SELECT {id_expr} AS {iname}, {group_expr} AS {gname},
                   row_number() OVER (PARTITION BY {group_expr}
                                      ORDER BY {h} ASC, {id_expr} ASC)
                       ::BIGINT AS mix_rank
            FROM {from_table})
    SELECT {iname}, {gname}, mix_rank, target_n
    FROM mtr JOIN mtt ON mtr.{gname} IS NOT DISTINCT FROM mtt.g
    WHERE mix_rank <= target_n
    """


def curriculum_order(df: DataFrame, difficulty_cols, stages: int,
                     id_col: str, salt: str = "curriculum",
                     shard_size: int = 0,
                     stage_col: str = "stage",
                     rank_col: str = "curriculum_rank") -> DataFrame:
    """Curriculum ordering: an exact global reading order that walks
    difficulty STAGES in sequence while reading uniformly at random
    WITHIN each stage — curriculum learning's standard schedule
    (Bengio et al. 2009: sort by difficulty, shuffle within stage so
    the model never sees a secondary ordering artifact). Stage
    assignment is the exact distributed ntile (ranking.global_ntile)
    over ``difficulty_cols`` (a total order — pass a tiebreaker);
    the within-stage shuffle is the portable salted id hash; the final
    position is ranking.global_rank over (stage, hash, id).

    Two range exchanges by construction (a curriculum IS two distinct
    total orders: the quantile cut by difficulty, then the staged
    read order) — each on a narrow key, never a single-partition
    window. With shard_size > 0 the corpus_shuffle shard layout is
    appended, so each shard sits inside one stage (shard boundaries
    never straddle stages when stage sizes are multiples of the shard
    size; otherwise exactly one straddling shard per boundary).

    Output: df's columns + (stage_col, rank_col[, shard, shard_pos])."""
    if stages <= 0:
        raise ValueError(f"curriculum_order: stages must be positive, "
                         f"got {stages}")
    if shard_size < 0:
        raise ValueError(f"curriculum_order: shard_size must be >= 0 "
                         f"(0 disables sharding), got {shard_size}")
    from .ranking import global_ntile, global_rank
    staged = global_ntile(df, stages, difficulty_cols,
                          tile_col=stage_col)
    h = PH.ph60(F.concat(F.lit(f"{salt}:"),
                         F.col(id_col).cast("string")))
    ranked = global_rank(
        staged, [F.col(stage_col).asc(), h.asc(), F.col(id_col).asc()],
        rank_col=rank_col)
    return (_with_shards(ranked, rank_col, shard_size) if shard_size
            else ranked)


def duck_curriculum_sql(rel: str, difficulty_sql: str, stages: int,
                        id_expr: str, salt: str = "curriculum",
                        shard_size: int = 0,
                        stage_col: str = "stage",
                        rank_col: str = "curriculum_rank") -> str:
    """DuckDB twin of curriculum_order's (id, stage, rank[, shard,
    shard_pos]) columns over relation text ``rel``. SQL ntile uses the
    identical bucket rule global_ntile implements (first n%k buckets
    take one extra row)."""
    h = PH.duck_ph60(f"'{salt}:' || ({id_expr})::VARCHAR")
    shard_cols = (_duck_shard_cols(rank_col, shard_size)
                  if shard_size else "")
    return f"""
    SELECT {id_expr}, {stage_col},
           row_number() OVER (ORDER BY {stage_col} ASC, {h} ASC,
                              {id_expr} ASC)::BIGINT
               AS {rank_col}{shard_cols}
    FROM (SELECT *, ntile({int(stages)}) OVER (ORDER BY {difficulty_sql})
                        AS {stage_col}
          FROM {rel})
    """


def split_expr(id_col: str, splits: dict | None = None,
               salt: str = "split", buckets: int = 1000):
    """The hash_split ASSIGNMENT as a pure Column function of the id —
    no materialized bucket column, so it can stamp split names onto
    frames that only carry ids (e.g. a near-dup PAIR frame, where both
    endpoints need a split each). Must stay value-identical to
    hash_split's `split` column (locked by a test); the SQL twin is
    duck_split_case(duck_bucket_sql(...))."""
    splits = splits or {"train": 0.8, "val": 0.1, "test": 0.1}
    bucket = _bucket(id_col, salt, buckets)
    expr = None
    acc = 0.0
    names = list(splits)
    for name in names[:-1]:
        acc += splits[name]
        cond = bucket < F.lit(int(round(acc * buckets)))
        expr = (F.when(cond, F.lit(name)) if expr is None
                else expr.when(cond, F.lit(name)))
    return (F.lit(names[-1]) if expr is None
            else expr.otherwise(F.lit(names[-1])))


def split_leakage(pairs: DataFrame, id_a: str = "id_a",
                  id_b: str = "id_b", splits: dict | None = None,
                  salt: str = "split", buckets: int = 1000) -> DataFrame:
    """Split-contamination check: near-duplicate pairs whose endpoints
    landed in DIFFERENT dataset splits — the leak an eval set must not
    have (a test document with a train near-twin is measured memorized,
    not generalized; cf. the decontamination literature, here applied
    WITHIN the corpus between its own splits).

    Because hash_split is a pure function of the id, no join against
    the split assignment is needed: both endpoints' splits are computed
    INLINE (split_expr), making the check MAP-ONLY over the pair frame
    — the expensive part (candidate generation) is whatever bucketed
    near-dup operator produced ``pairs``, already paid. At 100 TB this
    adds zero shuffles to the dedup pipeline it rides.

    Output: pairs' columns + (split_a, split_b), filtered to
    straddling pairs."""
    return (pairs.withColumn("split_a",
                             split_expr(id_a, splits, salt, buckets))
            .withColumn("split_b",
                        split_expr(id_b, splits, salt, buckets))
            .filter(F.col("split_a") != F.col("split_b")))


def clean_holdout(docs: DataFrame, pairs: DataFrame,
                  id_col: str = "doc_id", holdout: str = "test",
                  against: str = "train",
                  splits: dict | None = None, salt: str = "split",
                  buckets: int = 1000) -> DataFrame:
    """The DECONTAMINATED holdout: documents of the ``holdout`` split
    with NO near-duplicate in the ``against`` split — what
    split_leakage DETECTS, this DELIVERS (the eval set you can
    actually report numbers on). Split membership is stamped inline
    (split_expr — a pure function of the id, no assignment join);
    offending holdout ids are the straddling pair endpoints, removed
    with a LEFT ANTI join.

    Scale shape: the candidate pair frame is the dedup pipeline's
    output (already paid) and is scanned ONCE — both offending
    endpoints come out of a single explode projection (a per-direction
    filter branch would instantiate the candidate join twice in the
    plan); the distinct is bounded by the leak count; the anti join is
    one id-grain hash join (AQE broadcasts it when the leak set is
    small — the common case). The holdout filter itself pushes into
    the scan.

    Output: docs' columns, filtered to the clean holdout rows."""
    sa = split_expr("id_a", splits, salt, buckets)
    sb = split_expr("id_b", splits, salt, buckets)
    bad = (pairs.select(F.explode(F.array(
        F.when((sa == holdout) & (sb == against), F.col("id_a")),
        F.when((sb == holdout) & (sa == against), F.col("id_b"))))
        .alias(id_col))
        .filter(F.col(id_col).isNotNull())
        .distinct())
    return (docs.filter(split_expr(id_col, splits, salt, buckets)
                        == holdout)
            .join(bad, id_col, "left_anti"))


def token_budget_select_per_group(scored: DataFrame, group_col: str,
                                  budget: int, order_cols,
                                  weight_col: str,
                                  cum_col: str = "cum_tokens",
                                  rank_col: str = "select_rank"
                                  ) -> DataFrame:
    """Per-GROUP token-budget selection: each group independently keeps
    its best rows until ``budget`` tokens — the per-domain/per-language
    cap of a training mix (every domain contributes at most N tokens,
    quality-first within the domain). The global variant
    (token_budget_select) needs the distributed exact prefix-sum's
    range exchange; the per-group cut is strictly cheaper — ONE hash
    shuffle on the group key and an ordinary PARTITIONED window, fully
    parallel across groups (AQE splits a skewed group's sort, and the
    running sum is per-group so no offset bookkeeping exists at all).

    Same exactness contract: integral weights only (BIGINT running
    totals are partition-order-independent), total order within the
    group via the caller's tiebreaker. A row is kept iff its in-group
    running total is within budget (the first overflowing row drops).
    Weights must be NON-NEGATIVE — a negative weight would let the
    running total dip back under budget after overflowing, silently
    re-admitting later rows (r13 advice); checked at execution by a
    raise_error branch fused into the budget filter.

    Output: scored's columns + (rank_col, cum_col), filtered."""
    if budget < 0:
        raise ValueError(f"token_budget_select_per_group: budget must "
                         f"be >= 0, got {budget}")
    if weight_col not in scored.columns:
        raise ValueError(f"token_budget_select_per_group: weight column "
                         f"{weight_col!r} not in frame")
    wtype = scored.schema[weight_col].dataType.simpleString()
    if wtype not in ("tinyint", "smallint", "int", "bigint"):
        raise ValueError(
            f"token_budget_select_per_group: weight column "
            f"{weight_col!r} is {wtype}; only integral weights sum "
            f"exactly — pre-scale floats onto an integer grid first")
    w = Window.partitionBy(group_col).orderBy(*order_cols)
    wcum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    # the negative/NULL-weight guard fuses into the budget filter (one
    # extra comparison on rows the window pass already touches; the
    # global variant carries the matching guard inside global_cumsum —
    # both budget cuts reject the same invalid inputs, NULLs included,
    # with a literal message for the NULL case so the raise never
    # concats a NULL into its own diagnostic (r14 review)
    keep = F.when(
        F.col(weight_col).isNull(),
        F.raise_error(F.lit(
            f"token_budget_select_per_group: weight column "
            f"{weight_col!r} contains NULLs — a NULL weight has no "
            f"defined running-total contribution; filter or impute "
            f"first")).cast("boolean")
    ).when(
        F.col(weight_col) >= 0,
        F.col(cum_col) <= F.lit(int(budget))
    ).otherwise(F.raise_error(F.concat(
        F.lit(f"token_budget_select_per_group: weight column "
              f"{weight_col!r} has a negative value ("),
        F.col(weight_col).cast("string"),
        F.lit("); the kept set would not be a contiguous prefix")))
        .cast("boolean"))
    return (scored
            .withColumn(rank_col, F.row_number().over(w).cast("long"))
            .withColumn(cum_col,
                        F.sum(F.col(weight_col).cast("long")).over(wcum)
                        .cast("long"))
            .filter(keep))


def duck_token_budget_per_group_sql(rel: str, group_expr: str,
                                    budget: int, order_sql: str,
                                    weight_expr: str, select_cols: str,
                                    cum_col: str = "cum_tokens",
                                    rank_col: str = "select_rank"
                                    ) -> str:
    """DuckDB twin of token_budget_select_per_group over relation text
    ``rel``."""
    return f"""
    SELECT {select_cols}, {rank_col}, {cum_col}
    FROM (SELECT *,
                 row_number() OVER (PARTITION BY {group_expr}
                                    ORDER BY {order_sql}) AS {rank_col},
                 sum({weight_expr}) OVER (
                     PARTITION BY {group_expr} ORDER BY {order_sql}
                     ROWS UNBOUNDED PRECEDING)::BIGINT AS {cum_col}
          FROM {rel})
    WHERE {cum_col} <= {int(budget)}
    """
