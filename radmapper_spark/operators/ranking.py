"""Global ordering primitives that avoid single-partition windows.

An empty-partition-spec window (``Window.orderBy(...)`` with no
``partitionBy``) makes Spark move EVERY row to one partition — the
classic scale killer, and the engine warns about it loudly. Two shapes
recur in this repo and each has a scalable replacement:

- ``bounded_global_rank``: ranking a frame that is ALREADY limited to a
  few hundred rows (the orderBy().limit(n) top-n pattern, which plans
  as TakeOrderedAndProject). Physically a one-partition pass is exactly
  right for n bounded rows; what we avoid is the empty partition spec —
  ``coalesce(1)`` + a window keyed on ``spark_partition_id()`` is the
  same bounded single task, declared intentionally.

- ``global_rank`` / ``global_ntile``: an exact global rank/ntile over
  an UNBOUNDED frame (e.g. every customer). The distributed recipe:
  range-repartition on the order keys (Spark's own global-sort
  machinery, so key ranges are contiguous per partition), count rows
  per partition (a P-row aggregate), cumulative-sum those counts into
  partition offsets (a BOUNDED P-row single task), broadcast the
  offsets back, and compute the global rank as per-partition
  row_number + partition offset. One parallel range shuffle plus
  P-row bookkeeping instead of funneling the world through a single
  task. Everything stays LAZY — offsets and totals are plan nodes, not
  driver collects — so entry construction runs zero jobs; the persist
  on the range-partitioned frame pins the sampled range boundaries so
  the counts branch and the rank branch see identical partitioning
  (correctness, not just speed — boundary drift between branches would
  mis-offset every rank).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..session import persist


def bounded_global_rank(top: DataFrame, order_cols,
                        rank_col: str = "rank") -> DataFrame:
    """row_number over an already-BOUNDED frame (callers pass the
    result of orderBy().limit(n); never an unbounded table — this
    coalesces to one partition by design)."""
    w = (Window.partitionBy(F.spark_partition_id())
         .orderBy(*order_cols))
    return (top.coalesce(1)
            .withColumn(rank_col, F.row_number().over(w)))


def _free_name(df: DataFrame, base: str) -> str:
    """An internal column name that does not collide with the caller's
    schema — withColumn silently REPLACES an existing column, so using a
    fixed ``_rm_*`` name on a frame that already has it would clobber
    and then drop the user's data."""
    name, i = base, 2
    cols = set(df.columns)
    while name in cols:
        name = f"{base}{i}"
        i += 1
    return name


def global_rank(df: DataFrame, order_cols, rank_col: str = "rank",
                _total_col: str = None) -> DataFrame:
    """Exact 1-based global rank (row_number semantics: ties broken by
    the caller's tiebreaker columns) over an unbounded frame, computed
    without a single-partition window. Returns df + rank_col (+ a total
    row-count column when ``_total_col`` is set — ntile needs it). The
    internal range-partitioned frame is persisted in the caller's scope:
    both branches must read one partitioning, so it has to live until
    the result is consumed."""
    spark = df.sparkSession
    try:
        p = int(spark.conf.get("spark.sql.shuffle.partitions", "200"))
    except Exception:
        p = 200
    pid, off, cnt = (_free_name(df, "_rm_pid"), _free_name(df, "_rm_off"),
                     _free_name(df, "_rm_n"))
    parts = persist(df.repartitionByRange(p, *order_cols)
                    .withColumn(pid, F.spark_partition_id()))
    counts = (parts.groupBy(pid)
              .agg(F.count(F.lit(1)).alias(cnt)))
    # cumulative offsets over the <= p count rows: a bounded single
    # task (same pattern as bounded_global_rank), never the data
    woff = (Window.partitionBy(F.spark_partition_id())
            .orderBy(pid)
            .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    offs = (counts.coalesce(1)
            .withColumn(off, F.sum(cnt).over(woff) - F.col(cnt)))
    w = Window.partitionBy(pid).orderBy(*order_cols)
    out = (parts.join(F.broadcast(offs.select(pid, off)), pid)
           .withColumn(rank_col,
                       (F.row_number().over(w) + F.col(off))
                       .cast("long")))
    if _total_col is not None:
        tot = counts.agg(F.sum(cnt).alias(_total_col))
        out = out.crossJoin(F.broadcast(tot))
    return out.drop(pid, off)


def global_cumsum(df: DataFrame, order_cols, weight_col: str,
                  cum_col: str = "cum",
                  rank_col: str = None) -> DataFrame:
    """Exact global running total of an INTEGRAL weight column in a
    total order — ``global_rank`` generalized from counting rows to
    summing weights (rank is the cumsum of 1s). Same distributed
    recipe: range-repartition on the order keys, per-partition weight
    sums (a P-row aggregate), cumulative-sum those into partition
    OFFSETS in a bounded P-row single task, broadcast the offsets back,
    and emit per-partition running total + offset. One parallel range
    shuffle instead of a single-partition window; everything stays lazy
    (the persist pins the sampled range boundaries so the offsets
    branch and the cumsum branch see identical partitioning).

    ``weight_col`` must be an integral column AND non-negative: BIGINT
    sums are exact and partition-order-independent, which is what makes
    the running total reproducible across cluster sizes and in the
    DuckDB oracle (a double sum would drift with partition order), and
    a negative weight would let the running total dip back under a
    downstream threshold after crossing it, silently breaking callers'
    contiguous-prefix contracts (token_budget_select's "first
    overflowing row drops" — r13 advice). Negativity is checked at
    EXECUTION time by a min-weight guard riding the existing P-row
    offset aggregate (zero extra passes). ``order_cols``
    must be a TOTAL order (callers pass a unique tiebreaker, same
    contract as global_rank). When ``rank_col`` is set the global
    row_number rides along on the same range exchange (no second
    shuffle). Persists like ``global_rank``."""
    spark = df.sparkSession
    if weight_col not in df.columns:
        raise ValueError(f"global_cumsum: weight column {weight_col!r} "
                         f"not in frame (columns: {df.columns})")
    wtype = df.schema[weight_col].dataType.simpleString()
    if wtype not in ("tinyint", "smallint", "int", "bigint"):
        raise ValueError(
            f"global_cumsum: weight column {weight_col!r} is {wtype}; "
            f"only integral weights sum exactly (order-independent) — "
            f"pre-scale floats onto an integer grid first")
    try:
        p = int(spark.conf.get("spark.sql.shuffle.partitions", "200"))
    except Exception:
        p = 200
    pid, off, wsum = (_free_name(df, "_rm_pid"), _free_name(df, "_rm_off"),
                      _free_name(df, "_rm_w"))
    rank_off, cnt = _free_name(df, "_rm_roff"), _free_name(df, "_rm_n")
    parts = persist(df.repartitionByRange(p, *order_cols)
                    .withColumn(pid, F.spark_partition_id()))
    # ONE P-row aggregate carries both the weight sums and (when the
    # rank rides along) the row counts, so both offset kinds come from
    # a single pass and a single broadcast join
    wmin = _free_name(df, "_rm_wmin")
    wnull = _free_name(df, "_rm_wnull")
    aggs = [F.sum(F.col(weight_col).cast("long")).alias(wsum),
            F.min(F.col(weight_col).cast("long")).alias(wmin),
            F.sum(F.col(weight_col).isNull().cast("long")).alias(wnull)]
    if rank_col is not None:
        aggs.append(F.count(F.lit(1)).alias(cnt))
    sums = parts.groupBy(pid).agg(*aggs)
    # negative/NULL-weight guard on the bounded P-row pass (a filter,
    # not a droppable projection — the raise fires at execution, same
    # pattern as linalg's ragged-dimension check). NULLs are checked
    # FIRST and with a literal message: F.min ignores NULLs, so without
    # the explicit count a NULL weight would silently sum as 0 here
    # while the per-group variant raises — the two budget cuts must
    # agree on invalid input (r14 review)
    sums = sums.where(
        F.when(F.col(wnull) > 0, F.raise_error(F.lit(
            f"global_cumsum: weight column {weight_col!r} contains "
            f"NULLs — a NULL weight has no defined running-total "
            f"contribution; filter or impute first")).cast("boolean"))
        .when(F.col(wmin) >= 0, F.lit(True))
        .otherwise(F.raise_error(F.concat(
            F.lit(f"global_cumsum: weight column {weight_col!r} has a "
                  f"negative value (min "),
            F.col(wmin).cast("string"),
            F.lit("); the running total would be non-monotone")))
            .cast("boolean"))
    ).drop(wmin, wnull)
    woff = (Window.partitionBy(F.spark_partition_id())
            .orderBy(pid)
            .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    offs = (sums.coalesce(1)
            .withColumn(off, F.sum(wsum).over(woff) - F.col(wsum)))
    off_cols = [pid, off]
    if rank_col is not None:
        offs = offs.withColumn(rank_off,
                               F.sum(cnt).over(woff) - F.col(cnt))
        off_cols.append(rank_off)
    w = (Window.partitionBy(pid).orderBy(*order_cols)
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    out = (parts.join(F.broadcast(offs.select(*off_cols)), pid)
           .withColumn(cum_col,
                       (F.sum(F.col(weight_col).cast("long")).over(w)
                        + F.col(off)).cast("long")))
    if rank_col is not None:
        # row_number over the SAME partitioning/ordering as the cumsum
        # window — one physical sort serves both window functions
        wr = Window.partitionBy(pid).orderBy(*order_cols)
        out = (out.withColumn(rank_col,
                              (F.row_number().over(wr) + F.col(rank_off))
                              .cast("long"))
               .drop(rank_off))
    return out.drop(pid, off)


def global_ntile(df: DataFrame, k: int, order_cols,
                 tile_col: str = "tile") -> DataFrame:
    """Exact ntile(k) over an unbounded frame without a single-partition
    window — identical bucket assignment to SQL ntile: with n rows,
    base = n div k and rem = n mod k, the first rem buckets take
    base+1 rows. The global rank comes from ``global_rank``; the tile
    is column arithmetic on (rank, total)."""
    if k <= 0:
        raise ValueError(f"ntile k must be positive, got {k}")
    rcol, tcol = _free_name(df, "_rm_r"), _free_name(df, "_rm_tot")
    ranked = global_rank(df, order_cols, rank_col=rcol, _total_col=tcol)
    r, n = F.col(rcol), F.col(tcol)
    base = F.floor(n / k).cast("long")
    rem = (n % k).cast("long")
    head = rem * (base + 1)
    tile = F.when(
        r <= head,
        F.floor((r - 1) / (base + 1)) + 1,
    ).otherwise(
        # unreachable when base == 0 (then head == n), so greatest(,1)
        # only dodges a div-by-zero in the never-taken branch
        rem + F.floor((r - head - 1) / F.greatest(base, F.lit(1))) + 1)
    return (ranked.withColumn(tile_col, tile.cast("int"))
            .drop(rcol, tcol))
