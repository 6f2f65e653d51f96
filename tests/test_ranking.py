"""Distributed exact rank/ntile/cumsum (operators/ranking.py).

Consolidated from the per-round test files (r14 governance pass) — test bodies unchanged."""

from __future__ import annotations

import json
import math
import os
import random
import time
import pytest
from pyspark.sql import functions as F
import re
import __spark_entry__ as entrymod

# ======================== from test_round9.py ========
@pytest.mark.parametrize("n,k", [(1, 10), (7, 10), (100, 10),
                                 (1003, 10), (64, 7)])
def test_global_ntile_matches_window_ntile(spark, n, k):
    """global_ntile (range shuffle + partition offsets) must assign the
    EXACT same buckets as the single-partition window ntile it
    replaces, including the uneven-remainder sizing, at n<k, n%k==0
    and n%k!=0."""
    from pyspark.sql import Window
    from radmapper_spark.operators.ranking import global_ntile
    rng = random.Random(n * 31 + k)
    rows = [(i, rng.randrange(10**6)) for i in range(n)]
    df = spark.createDataFrame(rows, "id long, v long").repartition(8)
    order = [F.col("v").desc(), F.col("id").asc()]
    got = global_ntile(df, k, order, tile_col="tile")
    want = df.withColumn(
        "tile", F.ntile(k).over(Window.orderBy(*order)))
    g = {(r.id, r.tile) for r in got.collect()}
    w = {(r.id, r.tile) for r in want.collect()}
    assert g == w


def test_global_rank_matches_window_rank(spark):
    from pyspark.sql import Window
    from radmapper_spark.operators.ranking import global_rank
    rng = random.Random(5)
    rows = [(i, rng.randrange(50)) for i in range(500)]
    df = spark.createDataFrame(rows, "id long, v long").repartition(8)
    order = [F.col("v").asc(), F.col("id").asc()]
    got = global_rank(df, order, rank_col="r")
    want = df.withColumn("r", F.row_number().over(Window.orderBy(*order)))
    assert ({(r.id, r.r) for r in got.collect()}
            == {(r.id, r.r) for r in want.collect()})


def test_bounded_global_rank_matches(spark):
    from radmapper_spark.operators.ranking import bounded_global_rank
    df = spark.range(1000).withColumn("v", (F.col("id") * 37) % 101)
    order = [F.col("v").desc(), F.col("id").asc()]
    top = df.orderBy(*order).limit(25)
    got = {(r.id, r.rank) for r in
           bounded_global_rank(top, order, "rank").collect()}
    want_rows = sorted(((r.v, r.id) for r in df.collect()),
                       key=lambda t: (-t[0], t[1]))[:25]
    want = {(vid, i + 1) for i, (_, vid) in enumerate(want_rows)}
    assert got == want


def test_global_ntile_preserves_caller_rm_columns(spark):
    """withColumn REPLACES a same-named column, so the internal
    bookkeeping names must dodge the caller's schema instead of
    clobbering (and then dropping) the user's data."""
    from radmapper_spark.operators.ranking import global_ntile
    df = (spark.range(100)
          .withColumn("_rm_pid", F.col("id") * 2)
          .withColumn("_rm_tot", F.col("id") + 7)
          .withColumn("_rm_r", F.col("id") % 3)
          .withColumn("_rm_off", F.lit(9)))
    out = global_ntile(df, 4, [F.col("id")])
    assert {"_rm_pid", "_rm_tot", "_rm_r", "_rm_off"} <= set(out.columns)
    rows = out.orderBy("id").collect()
    assert [r["_rm_pid"] for r in rows] == [i * 2 for i in range(100)]
    assert [r["_rm_tot"] for r in rows] == [i + 7 for i in range(100)]
    assert [r["tile"] for r in rows] == [i // 25 + 1 for i in range(100)]


# ======================== from test_round13.py (r14 consolidation) ========
def test_global_cumsum_exact_vs_python(spark):
    """global_cumsum must equal the Python prefix-sum in the same total
    order, with every Window node keyed on the range-partition id
    (never an empty partition spec)."""
    from radmapper_spark.operators.ranking import global_cumsum
    rows = [(i, (i * 37) % 101 + 1) for i in range(5000)]
    df = (spark.createDataFrame(rows, "id long, w long")
          .repartition(13))
    out = global_cumsum(df, [F.col("w").asc(), F.col("id").asc()], "w",
                        cum_col="cum", rank_col="rk")
    got = {r["id"]: (r["rk"], r["cum"]) for r in out.collect()}
    plan = out._jdf.queryExecution().executedPlan().toString()
    win_lines = [ln for ln in plan.splitlines() if "Window [" in ln]
    assert win_lines, "plan lost its windows — test is vacuous"
    assert all("_rm_pid" in ln for ln in win_lines), win_lines
    acc = 0
    for rank, (i, w) in enumerate(sorted(rows, key=lambda t: (t[1], t[0])),
                                  start=1):
        acc += w
        assert got[i] == (rank, acc), (i, got[i], (rank, acc))


def test_global_cumsum_rejects_float_weights(spark):
    from radmapper_spark.operators.ranking import global_cumsum
    df = spark.createDataFrame([(1, 1.5)], "id long, w double")
    with pytest.raises(ValueError, match="integral"):
        global_cumsum(df, [F.col("id")], "w")
    with pytest.raises(ValueError, match="not in frame"):
        global_cumsum(df.select("id"), [F.col("id")], "w")
