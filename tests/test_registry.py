"""Registry-wide invariants (entrypoints.ENTRIES and the driver contract
in __spark_entry__.py): entry determinism, plan-shape locks, the
least-recently-green order of queries(), and an import of the package
that reads no correctness history."""

from __future__ import annotations

import hashlib
import math
import random
import pytest
from pyspark.sql import functions as F
from radmapper_spark.operators import behavior, chunking, similarity, temporal
from radmapper_spark.operators import textstats
import json
import os
import time
import re
import __spark_entry__ as entrymod

# ======================== from test_round6b.py ========
@pytest.mark.parametrize("name", [
    "ann_ivf_topk", "ann_pq_topk", "embedding_kmeans_lloyd",
    "graph_pagerank", "dedup_embedding_cosine", "dedup_minhash_lsh"])
def test_entry_repeat_invocation_identical(spark, name):
    """Entries that carry caches (codebooks, persisted signature/rank
    frames) must return IDENTICAL results on a second invocation in the
    same session — a stale or cross-contaminated cache shows up here."""
    import __spark_entry__ as entrymod
    fn = entrymod.queries()[name]
    sf = "/root/testdata/sf0.001"

    def run_once():
        df = fn(spark, sf)
        rows = sorted(tuple(r) for r in df.collect())
        rel = getattr(df, "rm_release_cache", None)
        rel and rel()
        return rows

    assert run_once() == run_once()


@pytest.mark.parametrize("name,sf", [
    ("lm_bucket", "sf0.1"), ("materialize_training_shards", "sf0.001")])
def test_global_rank_entry_repeat_identical(spark, name, sf):
    """ranking.global_rank and global_cumsum persist their
    range-partitioned frame so that the per-partition count branch and
    the rank branch read one partitioning. Without the persist, repeat
    runs of lm_bucket at sf0.1 return different row sets and the shard
    artifact stops matching its oracle. Each entry runs twice, the
    shard artifact's memo released in between so it is rebuilt, and
    both runs must equal the oracle. Each SF is the smallest fixture at
    which a build without the persist fails this test (lm_bucket still
    matches at sf0.01)."""
    from radmapper_spark.session import release_memos
    from tests.conftest import SF_SMOKE
    from tests.oracle import _canon, duck_conn
    sf = os.path.join(os.path.dirname(SF_SMOKE), sf)
    runs = []
    for _ in range(2):
        df = entrymod.queries()[name](spark, sf)
        cols, rows = df.columns, df.collect()
        rel = getattr(df, "rm_release_cache", None)
        rel and rel()
        release_memos("index:train_shards")
        runs.append(_canon(rows, cols))
    oracle = duck_conn(sf).execute(entrymod.oracle_sql()[name])
    want = _canon(oracle.fetchall(), [d[0] for d in oracle.description])
    assert runs[0] == want and runs[1] == want


# ======================== from test_round9.py (r14 consolidation) ========
def test_customer_deciles_window_is_partitioned(spark):
    """The decile entry must not run an UNPARTITIONED window over the
    customer dimension (the old global ntile funneled every customer
    through one task). Every Window node in the physical plan must be
    keyed on the range-partition id. (Exchange SinglePartition nodes
    still appear for grand-total aggregates — those reduce 32 one-row
    partials, the normal scalable shape — so we assert on the Window
    nodes, not on exchanges.)"""
    from radmapper_spark import entrypoints as ep
    df = ep.customer_deciles(spark, "/root/testdata/sf0.001")
    plan = df._jdf.queryExecution().executedPlan().toString()
    win_lines = [ln for ln in plan.splitlines() if "Window [" in ln]
    assert win_lines, "plan lost its window — test is vacuous"
    assert all("_rm_pid" in ln for ln in win_lines), win_lines
    rows = {r.decile: r.n_customers for r in df.collect()}
    assert set(rows) == set(range(1, 11))


# ======================== from test_round13.py (r14 consolidation) ========
SF = "/root/testdata/sf0.001"


def _release(df):
    rel = getattr(df, "rm_release_cache", None)
    if rel is not None:
        rel()


def _optimized(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def _parquet_relations(plan: str) -> int:
    return len(re.findall(r"Relation.*parquet", plan))


@pytest.mark.parametrize("name", ["nb_quality_score", "nb_pareto_filter"])
def test_nb_entries_single_training_instantiation(spark, name):
    """The NB entries must bench the scale shape their docstrings
    preach (r12 verdict item #1/#4): the training subtree appears ONCE
    in the plan — one aggregate over each class. Concretely the
    optimized plan holds exactly THREE parquet relations: the corpus
    scan plus one scan per class under the vocab aggregate; the consts
    are literals over a 1-row local relation, not a second training
    instantiation (the lazy one-shot form had SEVEN relations — vocab's
    two, consts' re-derived two, two 1-row class counts, the corpus)."""
    df = entrymod.queries()[name](spark, SF)
    plan = _optimized(df)
    n = _parquet_relations(plan)
    assert n == 3, f"{name}: {n} parquet relations (want 3):\n{plan[:3000]}"


def test_queries_least_recently_green_order(tmp_path, monkeypatch):
    """queries() is least-recently-green first: entries with no green
    driver row, then ascending last green round, ties by name. A row is
    green only when rows, schema and hash match with no error, and a
    file that does not parse is skipped. With the committed history,
    every entry 3 or more rounds past its last green row is inside the
    driver's 50-entry window."""
    names = sorted(entrymod.ENTRIES)
    never, old_b, old_a, mid = names[7], names[3], names[5], names[1]
    ok = {"rows_match": True, "schema_match": True, "hash_match": True,
          "err": None}
    history = {
        1: {n: ok for n in names if n != never},
        2: {n: ok for n in names if n not in (never, old_a, old_b)},
        3: {**{n: ok for n in names if n not in (never, old_a, old_b,
                                                   mid)},
            never: {**ok, "hash_match": False},
            old_a: {**ok, "err": "boom"},
            mid: {**ok, "schema_match": False}},
    }
    for rnd, rows in history.items():
        (tmp_path / f"CORRECTNESS_r{rnd:02d}.json").write_text(
            json.dumps({"queries": rows}))
    (tmp_path / "CORRECTNESS_r04.json").write_text('{"queries": {')
    last = entrymod.last_green(str(tmp_path))
    assert never not in last
    assert (last[old_a], last[old_b], last[mid]) == (1, 1, 2)
    real = entrymod.last_green
    monkeypatch.setattr(entrymod, "last_green",
                        lambda root=str(tmp_path): real(root))
    order = list(entrymod.queries())
    assert order[:4] == [never, old_b, old_a, mid]
    assert order[4:] == [n for n in names
                         if n not in (never, old_a, old_b, mid)]
    monkeypatch.undo()

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    rounds = [int(re.search(r"_r(\d+)\.json$", f).group(1)) for f in
              os.listdir(repo) if re.fullmatch(r"CORRECTNESS_r\d+\.json", f)]
    assert rounds, f"no CORRECTNESS_r*.json under {repo}"
    n_round = max(rounds) + 1
    last = entrymod.last_green()
    due = {n for n in entrymod.ENTRIES
           if n_round - last.get(n, 0) >= 3}
    assert due <= set(list(entrymod.queries())[:50]), due


def test_package_import_reads_no_history(tmp_path):
    """The registry is data: a copy of the package with no correctness
    history beside it imports without a warning from the package, and
    its ENTRIES keep the written order of the registry here."""
    import shutil
    import subprocess
    import sys

    import radmapper_spark.entrypoints as ep

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    shutil.copytree(os.path.join(repo, "radmapper_spark"),
                    tmp_path / "radmapper_spark",
                    ignore=shutil.ignore_patterns("__pycache__"))
    code = (
        "import json, warnings\n"
        "with warnings.catch_warnings(record=True) as ws:\n"
        "    warnings.simplefilter('always')\n"
        "    import radmapper_spark.entrypoints as ep\n"
        "print(json.dumps({'file': ep.__file__, 'entries': list(ep.ENTRIES),"
        " 'warnings': [[w.filename, str(w.message)] for w in ws]}))\n")
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    proc = subprocess.run([sys.executable, "-c", code], cwd=tmp_path,
                          env=env, capture_output=True, text=True,
                          timeout=300)
    assert proc.returncode == 0, proc.stderr[-3000:]
    out = json.loads(proc.stdout.strip().splitlines()[-1])
    assert out["file"].startswith(str(tmp_path)), out["file"]
    own = [w for w in out["warnings"] if w[0].startswith(str(tmp_path))]
    assert not own, own
    assert out["entries"] == list(ep.ENTRIES)


@pytest.mark.parametrize("name", ["token_budget_select",
                                  "curriculum_order"])
def test_r13_ordering_entries_windows_are_partitioned(spark, name):
    """Entry-level plan lock (the customer_deciles pattern): every
    Window node in the physical plan must be keyed on the
    range-partition id — the budget cut and the curriculum must never
    regress to a single-partition window over the corpus — and the
    plan must actually carry a range exchange (the distributed global
    order; vacuity guard)."""
    df = entrymod.queries()[name](spark, SF)
    plan = df._jdf.queryExecution().executedPlan().toString()
    win_lines = [ln for ln in plan.splitlines() if "Window [" in ln]
    assert win_lines, f"{name}: plan lost its windows — vacuous"
    assert all("_rm_pid" in ln for ln in win_lines), win_lines
    assert "rangepartitioning" in plan, f"{name}: no range exchange"
    _release(df)
