"""Deterministic sampling/split operators: reproducibility, append
stability, stratified caps, and the map-only plan property."""

from __future__ import annotations

import hashlib

from pyspark.sql import functions as F

from radmapper_spark.operators import sampling


def _py_bucket(salt: str, ident, buckets: int) -> int:
    """Python twin of the portable 60-bit bucket hash (engine-independent
    expected values)."""
    return int(hashlib.md5(f"{salt}:{ident}".encode()).hexdigest()[:15], 16) % buckets


def test_split_disjoint_exhaustive_and_expected(tables):
    docs = tables["documents"]
    out = sampling.hash_split(docs, "doc_id").select("doc_id", "bucket", "split")
    rows = out.collect()
    assert len(rows) == docs.count()
    for r in rows:
        assert r["bucket"] == _py_bucket("split", r["doc_id"], 1000)
        expected = ("train" if r["bucket"] < 800
                    else "val" if r["bucket"] < 900 else "test")
        assert r["split"] == expected


def test_split_append_stable(tables):
    """Assignments must not depend on which other rows are present."""
    docs = tables["documents"]
    full = {r["doc_id"]: r["split"]
            for r in sampling.hash_split(docs, "doc_id").collect()}
    subset = {r["doc_id"]: r["split"]
              for r in sampling.hash_split(
                  docs.filter(F.col("doc_id") % 7 == 0), "doc_id").collect()}
    for k, v in subset.items():
        assert full[k] == v


def test_split_map_only_plan(tables):
    """hash_split must add NO exchange: at 100 TB the split is a free
    projection fused into the scan."""
    plan = (sampling.hash_split(tables["documents"], "doc_id")
            ._jdf.queryExecution().executedPlan().toString())
    assert "Exchange" not in plan


def test_deterministic_sample_reproducible(tables):
    docs = tables["documents"]
    a = sorted(r["doc_id"] for r in
               sampling.deterministic_sample(docs, "doc_id", 0.3).collect())
    b = sorted(r["doc_id"] for r in
               sampling.deterministic_sample(docs, "doc_id", 0.3).collect())
    assert a == b
    n = docs.count()
    assert 0.15 * n < len(a) < 0.45 * n  # ~rate, loose bound for small n


def test_sample_rate_monotone(tables):
    """A row kept at rate r must be kept at any rate r' > r (nested
    samples — the property hash-bucket sampling has and rand() lacks)."""
    docs = tables["documents"]
    small = set(r["doc_id"] for r in
                sampling.deterministic_sample(docs, "doc_id", 0.2).collect())
    big = set(r["doc_id"] for r in
              sampling.deterministic_sample(docs, "doc_id", 0.5).collect())
    assert small <= big


def test_cap_per_group(tables):
    docs = tables["documents"]
    out = sampling.cap_per_group(docs, "lang", "doc_id", 10)
    counts = {r["lang"]: r["n"] for r in
              out.groupBy("lang").agg(F.count("*").alias("n")).collect()}
    orig = {r["lang"]: r["n"] for r in
            docs.groupBy("lang").agg(F.count("*").alias("n")).collect()}
    for lang, n in counts.items():
        assert n == min(10, orig[lang])
    # kept set = the n smallest by (hash, id) — verify against python twin
    kept = {(r["lang"], r["doc_id"]) for r in out.collect()}
    all_rows = docs.select("lang", "doc_id").collect()
    by_lang: dict = {}
    for r in all_rows:
        by_lang.setdefault(r["lang"], []).append(r["doc_id"])
    expected = set()
    for lang, ids in by_lang.items():
        ranked = sorted(ids, key=lambda i: (_py_bucket("cap", i, 1 << 40), i))
        expected |= {(lang, i) for i in ranked[:10]}
    assert kept == expected


def test_mixture_sample_rates_and_determinism(spark, tables):
    """mixture_sample keeps ~rate of each group, deterministically, and
    drops groups missing from the rate table."""
    from pyspark.sql import functions as F
    from radmapper_spark.operators import sampling
    docs = tables["documents"]
    rates = spark.createDataFrame(
        [("src0", 1.0), ("src1", 0.5), ("src2", 0.0)],
        ["source", "rate"])
    out = sampling.mixture_sample(docs, "source", rates, "doc_id")
    per = {r["source"]: r["n"] for r in
           out.groupBy("source").agg(F.count(F.lit(1)).alias("n")).collect()}
    totals = {r["source"]: r["n"] for r in
              docs.groupBy("source").agg(F.count(F.lit(1)).alias("n"))
              .collect()}
    assert set(per) <= {"src0", "src1"}          # src2 and others dropped
    assert per["src0"] == totals["src0"]          # rate 1.0 keeps all
    frac = per.get("src1", 0) / totals["src1"]
    assert 0.2 < frac < 0.8                       # ~0.5, small-n tolerance
    a = sorted(r["doc_id"] for r in out.collect())
    b = sorted(r["doc_id"] for r in
               sampling.mixture_sample(docs, "source", rates,
                                       "doc_id").collect())
    assert a == b                                 # deterministic


def test_weighted_sample_statistical_bias(spark):
    """Heavier rows must be sampled more often: plant one group where a
    few rows carry 100x weight; over the deterministic draw they should
    dominate the selection."""
    from pyspark.sql import functions as F
    from radmapper_spark.operators import sampling
    rows = [("g", i, 1000 if i < 20 else 10) for i in range(400)]
    df = spark.createDataFrame(rows, "source string, doc_id long, w long")
    out = sampling.weighted_sample_per_group(
        df, "source", "doc_id", "w", k=20).collect()
    heavy = sum(1 for r in out if r.doc_id < 20)
    assert len(out) == 20
    # 20 rows at 100x weight vs 380 at 1x: expected heavy share >> half
    assert heavy >= 12


def test_weighted_sample_zero_weight_never_wins(spark):
    from radmapper_spark.operators import sampling
    rows = [("g", i, 0 if i % 2 else 5) for i in range(40)]
    df = spark.createDataFrame(rows, "source string, doc_id long, w long")
    out = sampling.weighted_sample_per_group(
        df, "source", "doc_id", "w", k=15).collect()
    assert all(r.w > 0 for r in out)


def test_negative_weight_rejected_global(spark):
    """r13 advice: a negative weight breaks the contiguous-prefix
    contract silently (the running total dips back under budget) and
    BOTH engines compute the same arithmetic, so only an engine-side
    guard can catch it. global_cumsum (token_budget_select's core)
    raises at execution via the P-row offset aggregate."""
    import pytest

    df = spark.createDataFrame(
        [(1, 10), (2, -3), (3, 10)], "doc_id long, w long")
    out = sampling.token_budget_select(df, 15, [F.col("doc_id").asc()],
                                       "w")
    with pytest.raises(Exception, match="negative"):
        out.collect()


def test_negative_weight_rejected_per_group(spark):
    import pytest

    df = spark.createDataFrame(
        [("a", 1, 10), ("a", 2, -3), ("a", 3, 10)],
        "g string, doc_id long, w long")
    out = sampling.token_budget_select_per_group(
        df, "g", 15, [F.col("doc_id").asc()], "w")
    with pytest.raises(Exception, match="negative"):
        out.collect()


def test_null_weight_rejected_both_variants(spark):
    """r14 review: F.min ignores NULLs, so the original global guard
    silently passed NULL weights (summing them as 0) while the
    per-group variant raised with a NULL-concat (unreadable) message.
    Both variants must now raise the same loud, literal diagnostic."""
    import pytest

    df = spark.createDataFrame(
        [(1, 10), (2, None), (3, 10)], "doc_id long, w long")
    out = sampling.token_budget_select(df, 15, [F.col("doc_id").asc()],
                                       "w")
    with pytest.raises(Exception, match="NULL"):
        out.collect()
    out2 = sampling.token_budget_select_per_group(
        df.withColumn("g", F.lit("x")), "g", 15,
        [F.col("doc_id").asc()], "w")
    with pytest.raises(Exception, match="NULL"):
        out2.collect()


def test_nonnegative_weights_unaffected_by_guard(spark):
    """The guard must be invisible for valid input: zero weights are
    fine and the kept set is the exact budget prefix."""
    df = spark.createDataFrame(
        [(1, 5), (2, 0), (3, 5), (4, 5), (5, 1)], "doc_id long, w long")
    kept = sorted(r.doc_id for r in sampling.token_budget_select(
        df, 10, [F.col("doc_id").asc()], "w").collect())
    assert kept == [1, 2, 3]
    kept_g = sorted(r.doc_id for r in sampling.token_budget_select_per_group(
        df.withColumn("g", F.lit("x")), "g", 10,
        [F.col("doc_id").asc()], "w").collect())
    assert kept_g == [1, 2, 3]


def test_duck_mixture_sql_computed_exprs():
    """r13 advice: duck_mixture_temperature_sql silently emitted invalid
    SQL for computed group/id expressions (the outer query re-selected
    the raw expression text outside its scope). With explicit names the
    aliased form must execute; without them a computed expression must
    be rejected loudly, not emitted broken."""
    import duckdb
    import pytest

    con = duckdb.connect()
    con.execute("CREATE TABLE documents AS SELECT i AS doc_id, "
                "chr(97 + (i % 3)::INT) AS lang "
                "FROM range(100) t(i)")
    sql = sampling.duck_mixture_temperature_sql(
        "upper(lang)", "doc_id + 0", 30, alpha=0.5,
        group_name="lang_u", id_name="doc_id")
    out = con.execute(sql).fetchall()
    assert len(out) == 30
    cols = [d[0] for d in con.execute(sql).description]
    assert cols == ["doc_id", "lang_u", "mix_rank", "target_n"]
    with pytest.raises(ValueError, match="bare identifier"):
        sampling.duck_mixture_temperature_sql("lower(lang)", "doc_id", 10)


def test_weighted_sample_append_stability(spark):
    """Adding rows never reshuffles the survivors arbitrarily: every
    evicted row is replaced only by a newcomer with a stronger key
    (subset property of A-ES under a fixed hash draw)."""
    from radmapper_spark.operators import sampling
    rows = [("g", i, (i % 7) + 1) for i in range(100)]
    more = rows + [("g", 1000 + i, (i % 7) + 1) for i in range(50)]
    df1 = spark.createDataFrame(rows, "source string, doc_id long, w long")
    df2 = spark.createDataFrame(more, "source string, doc_id long, w long")
    s1 = {r.doc_id for r in sampling.weighted_sample_per_group(
        df1, "source", "doc_id", "w", k=10).collect()}
    s2 = {r.doc_id for r in sampling.weighted_sample_per_group(
        df2, "source", "doc_id", "w", k=10).collect()}
    # survivors of the bigger set that are old rows must be a subset of
    # the original selection (keys are fixed per id)
    assert {d for d in s2 if d < 1000} <= s1



# ======================== from test_round12.py (r14 consolidation) ========
import shutil
import pytest
from pyspark.sql import functions as F

def test_mixture_interleave_prefix_proportionality(spark):
    """mixture_interleave: every prefix of the reading order holds each
    source within 1 of its proportional share (uniform strides of the
    fractional-position construction mesh like weighted fair queueing);
    the permutation is a bijection, partitioning-invariant, and
    shard arithmetic is consistent with the rank."""
    from collections import Counter

    from radmapper_spark.operators import sampling

    # unequal sources: 60 a, 30 b, 10 c
    rows = [(i, "a" if i < 60 else "b" if i < 90 else "c")
            for i in range(100)]
    df = spark.createDataFrame(rows, "doc_id: long, source: string")
    out = sampling.mixture_interleave(df, "source", "doc_id",
                                      shard_size=16)
    got = sorted(out.collect(), key=lambda r: r["interleave_rank"])
    assert [r["interleave_rank"] for r in got] == list(range(1, 101))
    share = {"a": 0.6, "b": 0.3, "c": 0.1}
    seen = Counter()
    for m, r in enumerate(got, start=1):
        seen[r["source"]] += 1
        for s, frac in share.items():
            assert abs(seen[s] - m * frac) <= 1, (m, s, seen)
    for r in got:
        assert r["shard"] * 16 + r["shard_pos"] == r["interleave_rank"] - 1
    # partitioning-invariant
    out2 = sampling.mixture_interleave(df.repartition(7), "source",
                                       "doc_id", shard_size=16)
    perm2 = {r["doc_id"]: r["interleave_rank"] for r in out2.collect()}
    assert perm2 == {r["doc_id"]: r["interleave_rank"] for r in got}


# ======================== from test_round13.py (r14 consolidation) ========
import re
import pytest
from pyspark.sql import functions as F
import __spark_entry__ as entrymod

def test_token_budget_select_prefix_property(spark):
    """Kept set = the maximal quality-ordered prefix within budget:
    every kept row's running total <= budget, and the best dropped
    row would overflow it. Edges: budget 0 keeps nothing; a budget
    >= the corpus total keeps everything."""
    from radmapper_spark.operators import sampling
    rows = [(i, (i * 13) % 50 + 1, (i * 7) % 40 + 1) for i in range(400)]
    df = spark.createDataFrame(rows, "id long, score long, w long")
    order = [F.col("score").desc(), F.col("id").asc()]
    out = sampling.token_budget_select(df, 900, order, "w")
    kept = [(r["id"], r["cum_tokens"]) for r in out.collect()]
    ordered = sorted(rows, key=lambda t: (-t[1], t[0]))
    acc, want = 0, []
    for i, s, w in ordered:
        acc += w
        if acc > 900:
            break
        want.append((i, acc))
    assert sorted(kept) == sorted(want)
    assert want and want[-1][1] <= 900
    empty = sampling.token_budget_select(df, 0, order, "w")
    assert empty.count() == 0
    total = sum(w for _, _, w in rows)
    full = sampling.token_budget_select(df, total, order, "w")
    assert full.count() == len(rows)
    with pytest.raises(ValueError, match="budget"):
        sampling.token_budget_select(df, -1, order, "w")


def test_mixture_temperature_allocation(spark):
    """Exact largest-remainder allocation: targets sum to k when every
    group can fill its quota; alpha < 1 boosts small groups relative
    to their proportional share; a group smaller than its target keeps
    all its rows; invalid alpha raises."""
    from radmapper_spark.operators import sampling
    rows = ([(i, "big") for i in range(800)]
            + [(i + 1000, "mid") for i in range(150)]
            + [(i + 2000, "small") for i in range(50)])
    df = spark.createDataFrame(rows, "doc_id long, g string")
    out = sampling.mixture_temperature(df, "g", "doc_id", 100, alpha=0.5)
    got = out.collect()
    targets = {r["g"]: r["target_n"] for r in got}
    kept = {}
    for r in got:
        kept[r["g"]] = kept.get(r["g"], 0) + 1
    assert sum(targets.values()) == 100
    assert kept == targets  # every group filled its quota
    # proportional shares would be 80/15/5; sqrt-temperature flattens
    assert targets["big"] < 80 and targets["small"] > 5
    # per-group kept rows are the hash-order prefix: ranks contiguous
    ranks = sorted(r["mix_rank"] for r in got if r["g"] == "small")
    assert ranks == list(range(1, targets["small"] + 1))
    with pytest.raises(ValueError, match="alpha"):
        sampling.mixture_temperature(df, "g", "doc_id", 100, alpha=0.3)
    with pytest.raises(ValueError, match="k must be positive"):
        sampling.mixture_temperature(df, "g", "doc_id", 0)
    # a tiny group cannot fill an upsampled quota: keeps all its rows
    tiny = spark.createDataFrame(
        [(i, "a") for i in range(99)] + [(500, "b")],
        "doc_id long, g string")
    out2 = sampling.mixture_temperature(tiny, "g", "doc_id", 50,
                                        alpha=0.25)
    kept2 = {}
    for r in out2.collect():
        kept2[r["g"]] = kept2.get(r["g"], 0) + 1
    assert kept2["b"] == 1  # capped at the group size


def test_curriculum_order_stage_contiguity(spark):
    """The global order walks stages in sequence: every stage-s rank
    precedes every stage-(s+1) rank, stage sizes follow the exact
    ntile rule, and within a stage the order is the salted hash (not
    the difficulty)."""
    from radmapper_spark.functions import portable_hash as PH
    from radmapper_spark.operators import sampling
    rows = [(i, (i * 31) % 997) for i in range(503)]
    df = spark.createDataFrame(rows, "doc_id long, diff long")
    out = sampling.curriculum_order(
        df, [F.col("diff").asc(), F.col("doc_id").asc()], 4, "doc_id",
        shard_size=50)
    got = out.select("doc_id", "stage", "curriculum_rank", "shard",
                     "shard_pos").collect()
    assert len(got) == 503
    by_stage = {}
    for r in got:
        by_stage.setdefault(r["stage"], []).append(r)
    # ntile(4) over 503 rows: 126, 126, 126, 125
    assert {s: len(v) for s, v in by_stage.items()} == {
        1: 126, 2: 126, 3: 126, 4: 125}
    for s in (1, 2, 3):
        assert (max(r["curriculum_rank"] for r in by_stage[s])
                < min(r["curriculum_rank"] for r in by_stage[s + 1]))
    # within-stage order is the salted portable hash, ties on id
    h = {r["doc_id"]: r for r in got}
    hdf = df.select(
        "doc_id",
        PH.ph60(F.concat(F.lit("curriculum:"),
                         F.col("doc_id").cast("string"))).alias("h"))
    hv = {r["doc_id"]: r["h"] for r in hdf.collect()}
    s1 = sorted(by_stage[1], key=lambda r: r["curriculum_rank"])
    assert [r["doc_id"] for r in s1] == [
        d for d, _ in sorted(((r["doc_id"], hv[r["doc_id"]]) for r in s1),
                             key=lambda t: (t[1], t[0]))]
    # shard layout rides the rank
    for r in got:
        assert r["shard"] == (r["curriculum_rank"] - 1) // 50
        assert r["shard_pos"] == (r["curriculum_rank"] - 1) % 50


def test_mixture_temperature_allocation_fuzz_vs_python():
    """Property fuzz of the largest-remainder allocation arithmetic
    against a pure-Python IEEE reference (the engine-exactness family
    pattern, cf. the NB fuzz): for random group counts, k, and alpha,
    DuckDB computes the identical weights, quotas, and seat
    assignments — sqrt is correctly rounded and everything after it is
    BIGINT arithmetic, so all three engines (Python/DuckDB/Spark, the
    last pinned by the unit test + 3-SF oracle) must agree exactly."""
    import math

    import duckdb
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from radmapper_spark.operators.sampling import WGRID

    roots = {0.5: math.sqrt, 0.25: lambda x: math.sqrt(math.sqrt(x))}

    @settings(max_examples=60, deadline=None)
    @given(st.dictionaries(st.integers(0, 40),
                           st.integers(1, 10 ** 12),
                           min_size=1, max_size=10),
           st.integers(1, 10 ** 6),
           st.sampled_from([1.0, 0.5, 0.25]))
    def check(counts, k, alpha):
        # pure-Python reference: one IEEE root + multiply, then ints
        # (alpha=1 skips the grid — counts are already exact BIGINTs,
        # and a uniform factor cancels in the integer quotients)
        w = (dict(counts) if alpha == 1.0 else
             {g: math.floor(roots[alpha](float(c)) * float(WGRID))
              for g, c in counts.items()})
        tw = sum(w.values())
        base = {g: (k * wg) // tw for g, wg in w.items()}
        rem = {g: (k * wg) % tw for g, wg in w.items()}
        leftover = k - sum(base.values())
        seats = sorted(counts, key=lambda g: (-rem[g], g))[:leftover]
        want = {g: base[g] + (1 if g in seats else 0) for g in counts}
        assert sum(want.values()) == k

        from radmapper_spark.operators.sampling import _duck_temp_weight
        w_sql = _duck_temp_weight("c", alpha)
        values = ", ".join(f"({g}, {c})" for g, c in counts.items())
        got = dict(duckdb.sql(f"""
            WITH mtw AS (SELECT g, {w_sql} AS w
                         FROM (VALUES {values}) AS t(g, c)),
            mtq AS (SELECT g,
                           ({k}::BIGINT * w) // (SELECT sum(w) FROM mtw)
                               AS base,
                           ({k}::BIGINT * w) % (SELECT sum(w) FROM mtw)
                               AS rem
                    FROM mtw)
            SELECT g, base + CASE WHEN row_number() OVER (
                                      ORDER BY rem DESC, g ASC)
                                  <= {k} - (SELECT sum(base) FROM mtq)
                             THEN 1 ELSE 0 END
            FROM mtq
        """).fetchall())
        assert got == want, (counts, k, alpha)

    check()


def test_split_expr_matches_hash_split(spark):
    """split_expr must stamp the identical split hash_split assigns —
    the lock that keeps the inline (join-free) form and the canonical
    assignment from forking (split_leakage depends on it)."""
    from radmapper_spark.operators import sampling
    df = spark.range(2000).selectExpr("id AS doc_id")
    via_split = {r["doc_id"]: r["split"]
                 for r in sampling.hash_split(df, "doc_id").collect()}
    via_expr = {r["doc_id"]: r["s"]
                for r in df.select(
                    "doc_id",
                    sampling.split_expr("doc_id").alias("s")).collect()}
    assert via_split == via_expr
    # and under a NON-DEFAULT splits dict (the ladder must agree on
    # every threshold, not just the 800/100/100 defaults)
    alt = {"a": 0.25, "b": 0.5, "c": 0.25}
    via_split2 = {r["doc_id"]: r["split"]
                  for r in sampling.hash_split(df, "doc_id",
                                               splits=alt).collect()}
    via_expr2 = {r["doc_id"]: r["s"]
                 for r in df.select(
                     "doc_id",
                     sampling.split_expr("doc_id", splits=alt)
                     .alias("s")).collect()}
    assert via_split2 == via_expr2
    assert set(via_split2.values()) == {"a", "b", "c"}
    counts = {}
    for s in via_split.values():
        counts[s] = counts.get(s, 0) + 1
    assert set(counts) == {"train", "val", "test"}
    assert counts["train"] > counts["val"]  # 0.8/0.1/0.1 sanity


def test_split_leakage_semantics(spark):
    """Only pairs whose endpoints land in different splits survive,
    splits are stamped correctly per endpoint, and the op is map-only
    (no Exchange in the plan — zero added shuffles)."""
    from radmapper_spark.operators import sampling
    ids = spark.range(300).selectExpr("id AS doc_id")
    split_of = {r["doc_id"]: r["split"]
                for r in sampling.hash_split(ids, "doc_id").collect()}
    pairs = spark.createDataFrame(
        [(a, a + 150) for a in range(150)], "id_a long, id_b long")
    out = sampling.split_leakage(pairs)
    assert "Exchange" not in \
        out._jdf.queryExecution().executedPlan().toString()
    got = {(r["id_a"], r["id_b"]): (r["split_a"], r["split_b"])
           for r in out.collect()}
    want = {(a, a + 150): (split_of[a], split_of[a + 150])
            for a in range(150)
            if split_of[a] != split_of[a + 150]}
    assert got == want and 0 < len(want) < 150


def test_clean_holdout_removes_exactly_leaked_test_docs(spark):
    """clean_holdout = holdout-split docs minus those with a near-dup
    pair into the against-split — recomputed independently from
    hash_split + the pair list."""
    from radmapper_spark.operators import sampling
    docs = spark.range(400).selectExpr("id AS doc_id",
                                       "concat('s', id % 3) AS source")
    split_of = {r["doc_id"]: r["split"]
                for r in sampling.hash_split(docs, "doc_id").collect()}
    pair_rows = [(a, a + 200) for a in range(0, 200, 3)]
    pairs = spark.createDataFrame(pair_rows, "id_a long, id_b long")
    got = sorted(r["doc_id"] for r in
                 sampling.clean_holdout(docs, pairs).collect())
    leaked = set()
    for a, b in pair_rows:
        if split_of[a] == "test" and split_of[b] == "train":
            leaked.add(a)
        if split_of[b] == "test" and split_of[a] == "train":
            leaked.add(b)
    want = sorted(d for d, s in split_of.items()
                  if s == "test" and d not in leaked)
    assert got == want
    # non-vacuity: the fixture must exercise the val-pair path — at
    # least one test-doc has a val near-twin and NO train near-twin,
    # and that doc must SURVIVE (only the against split disqualifies)
    val_only = [a for a, b in pair_rows
                if split_of[a] == "test" and split_of[b] == "val"
                and a not in leaked]
    val_only += [b for a, b in pair_rows
                 if split_of[b] == "test" and split_of[a] == "val"
                 and b not in leaked]
    assert val_only, "fixture lost its test<->val pair — re-seed"
    assert set(val_only) <= set(got)


def test_token_budget_matches_model_hypothesis(spark):
    """Hypothesis differential: random (score, weight) multisets and
    budgets through token_budget_select must equal the Python prefix
    model under adversarial partitioning (the offsets bookkeeping must
    not depend on how rows land in partitions)."""
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    from radmapper_spark.operators import sampling

    @settings(max_examples=10, deadline=None,
              suppress_health_check=[HealthCheck.function_scoped_fixture])
    @given(rows=st.lists(st.tuples(st.integers(-50, 50),
                                   st.integers(1, 30)),
                         min_size=1, max_size=120),
           budget=st.integers(0, 600),
           parts=st.sampled_from([1, 3, 17]))
    def check(rows, budget, parts):
        data = [(i, s, w) for i, (s, w) in enumerate(rows)]
        df = (spark.createDataFrame(data, "id long, s long, w long")
              .repartition(parts))
        out = sampling.token_budget_select(
            df, budget, [F.col("s").desc(), F.col("id").asc()], "w")
        got = sorted((r["id"], r["select_rank"], r["cum_tokens"])
                     for r in out.collect())
        acc, want = 0, []
        for rank, (i, s, w) in enumerate(
                sorted(data, key=lambda t: (-t[1], t[0])), start=1):
            acc += w
            if acc > budget:
                break
            want.append((i, rank, acc))
        assert got == sorted(want)

    check()


def test_mixture_temperature_null_group_keeps_seats(spark):
    """A NULL group key is a first-class mixture component (r13
    review): it gets counted, allocated, and JOINED back null-safely —
    a plain equi-join would silently drop its allocated seats."""
    from radmapper_spark.operators import sampling
    rows = ([(i, "a") for i in range(300)]
            + [(i + 1000, None) for i in range(100)])
    df = spark.createDataFrame(rows, "doc_id long, g string")
    got = sampling.mixture_temperature(df, "g", "doc_id", 40, alpha=0.5)
    kept = {}
    for r in got.collect():
        kept[r["g"]] = kept.get(r["g"], 0) + 1
    assert sum(kept.values()) == 40
    assert kept.get(None, 0) > 0, "null group lost its seats"


def test_token_budget_per_group_matches_python(spark):
    """Per-group budget cut vs the Python per-group prefix model; the
    plan's windows are ordinary PARTITIONED windows (group-keyed, not
    pid-keyed — no global machinery), and float weights are rejected."""
    from radmapper_spark.operators import sampling
    rows = [(i, f"g{i % 5}", (i * 13) % 40, (i * 7) % 20 + 1)
            for i in range(300)]
    df = spark.createDataFrame(rows, "id long, g string, s long, w long")
    out = sampling.token_budget_select_per_group(
        df, "g", 150, [F.col("s").desc(), F.col("id").asc()], "w")
    plan = out._jdf.queryExecution().executedPlan().toString()
    win_lines = [ln for ln in plan.splitlines() if "Window [" in ln]
    assert win_lines and all("g#" in ln for ln in win_lines), win_lines
    got = sorted((r["id"], r["select_rank"], r["cum_tokens"])
                 for r in out.collect())
    want = []
    for g in {r[1] for r in rows}:
        acc = 0
        grp = sorted((r for r in rows if r[1] == g),
                     key=lambda t: (-t[2], t[0]))
        for rank, (i, _, s, w) in enumerate(grp, start=1):
            acc += w
            if acc > 150:
                break
            want.append((i, rank, acc))
    assert got == sorted(want)
    with pytest.raises(ValueError, match="integral"):
        sampling.token_budget_select_per_group(
            df.withColumn("w", F.col("w").cast("double")), "g", 150,
            [F.col("s")], "w")


def test_mixture_temperature_null_tiebreak_nulls_last(spark):
    """The remainder-seat tiebreak is NULLS LAST on both engines (r13
    second review: Spark's bare asc() is nulls-first, DuckDB's is
    nulls-last — two equal-weight groups, one NULL, with one leftover
    seat would diverge). With equal counts and odd k, the seat must go
    to the NON-null group."""
    from radmapper_spark.operators import sampling
    rows = ([(i, "x") for i in range(100)]
            + [(i + 1000, None) for i in range(100)])
    df = spark.createDataFrame(rows, "doc_id long, g string")
    got = sampling.mixture_temperature(df, "g", "doc_id", 31, alpha=1.0)
    kept = {}
    for r in got.collect():
        kept[r["g"]] = kept.get(r["g"], 0) + 1
    assert kept == {"x": 16, None: 15}, kept
