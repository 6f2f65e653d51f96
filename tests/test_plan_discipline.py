"""Plan-shape discipline across ALL driver entries (SURVEY.md §4.2/§4.3):
the properties that make the engine scale — stay JVM-side, prune columns,
broadcast small dims — asserted as regression tests so a future change
that silently de-optimizes a plan fails CI, not the 100 TB run.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

import __spark_entry__ as entrymod

SF = "/root/testdata/sf0.001"

# the ONLY entries allowed a Python eval node — each is an Arrow-batched
# vectorized kernel doing dense math Catalyst can't express efficiently
# (documented in their operator docstrings)
ARROW_ALLOWED = {
    "dedup_embedding_cosine",  # blocked-GEMM self-join
                               # (dedup.cosine_join)
    "ann_bruteforce_topk",     # blocked-GEMM product (dedup.cosine_join)
    "ann_range_search",        # blocked-GEMM product (dedup.cosine_join)
    "decontam_embedding",      # blocked-GEMM product (dedup.cosine_join)
    "ann_ivf_topk",            # IVF cell-assignment matmul
    "ann_pq_topk",             # PQ encode + ADC lookup-table matmuls
    "multimodal_features",     # binary decode boundary (mapInPandas)
    "embedding_probe",         # blocked-GEMM index x batch product
                               # (dedup.cosine_join)
    "semantic_dedup",          # within-cluster pairs through the shared
                               # pair-cosine kernel (dedup.cosine_verify)
    "embedding_gram",          # per-batch d×d partial-gram reduction
    "embedding_pca",           # projection matmul + projected-gram partials
    "ann_opq_topk",            # rotation matmul + PQ encode/ADC kernels
    "quality_probe",           # design-moment d×d partial-gram reduction
                               # (scoring itself is a pure-Catalyst
                               # literal-coefficient projection)
    "substring_dup_spans",     # offset-sliced span window explode
                               # (tokenization stays Catalyst; the
                               # kernel replaces O(k x tokens) slice+
                               # array_join builds, measured 3.2->1.0 s
                               # at sf0.1 on the dominant stage)
    "substring_removal_spans",  # same offset-sliced window kernel,
                                # emitting per-occurrence intervals
    "substring_scrub",          # consumes the removal-span kernel's
                                # ranges (the apply side itself is a
                                # pure-Catalyst aggregate fold — the
                                # Arrow node is the upstream kernel)
    "image_phash_neardup",      # perceptual-hash decode boundary
                                # (mapInPandas; banding/verify stay JVM)
    "stream_media_dedup",       # same decode boundary; dedup agg is JVM
    # image_dedup_groups is NOT here: its phash/Arrow work runs inside
    # dedup_groups' eager bounded pair-collect (EAGER_ALLOWED below),
    # so the RETURNED plan is a pure-JVM join against the label frame
}

PY_NODES = ("BatchEvalPython", "ArrowEvalPython", "MapInPandas",
            "MapInArrow", "FlatMapGroupsInPandas")


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _python_rdd_scans(df) -> list:
    """Leaves of ``df``'s plan that scan an RDD built by a Python
    worker (a list-built createDataFrame: each action re-runs the
    worker). A localCheckpoint also prints as ``Scan ExistingRDD``, but
    its RDD is the JVM's own, so the lineage is what tells them apart."""
    leaves = df._jdf.queryExecution().optimizedPlan().collectLeaves()
    return [leaves.apply(i).simpleString(1) for i in range(leaves.size())
            if leaves.apply(i).nodeName() == "LogicalRDD"
            and "PythonRDD" in leaves.apply(i).rdd().toDebugString()]


def _release(df):
    rel = getattr(df, "rm_release_cache", None)
    if rel is not None:
        rel()


def test_no_python_eval_outside_allowlist(spark):
    """Every entry's physical plan is pure JVM except the documented
    Arrow kernels (NOTHING uses row-at-a-time BatchEvalPython), no
    entry scans a Python-built RDD (local frames come from Arrow, a
    LocalTableScan; _python_rdd_scans), AND
    constructing an entry's DataFrame runs no Spark jobs beyond the
    load_tables schema reads on a REPEAT build (eager scalar collects
    hide extra scans the optimizer can't reuse; codebook fits are
    allowed on the first construction — bounded sample, memoized).

    ONE iteration serves both audits (r16 suite-time governance: the
    two separate tests built every entry three times — plan pass +
    lazy warm-up + lazy measure — for ~92 s; merged, the plan is
    captured during the lazy audit's warm-up build)."""
    from radmapper_spark.entrypoints import release_edge_cache

    sc = spark.sparkContext
    tracker = sc.statusTracker()
    # plan text must not depend on what earlier tests left persisted:
    # Spark substitutes any cached frame whose plan matches a subtree,
    # and the InMemoryTableScan prints that frame's whole cached plan
    # (in full suite order curriculum_order measured 251 KB and
    # graph_communities 102 KB; 73 KB and 55 KB after this release)
    release_edge_cache()
    spark.catalog.clearCache()

    def jobs_during(key, fn):
        sc.setJobGroup(key, key)
        try:
            fn()
        finally:
            sc.setJobGroup(None, None)
        return len(tracker.getJobIdsForGroup(key))

    baseline = jobs_during("lazy_baseline",
                           lambda: entrymod.load_tables(spark, SF))
    offenders, missing_arrow, eager, oversized = [], [], [], []
    rdd_scans = []
    for name, fn in entrymod.queries().items():
        # warm-up build doubles as the plan audit (codebook fits and
        # memoized collects land here, outside the measured build)
        df = fn(spark, SF)
        plan = _plan(df)
        # stringify-tax governor (r18, VERDICT r17 item 7): AQE re-prints
        # every operator's expression text at each plan update, and one
        # giant inlined expression (a gate pushed into a join condition
        # or Filter) costs O(depth x text) per print — the r17 crawl
        # pathology. One operator == one printed line; the worst honest
        # line today is ~3.8 KB and the worst honest whole plan ~100 KB
        # (graph iterations, many SMALL operators), while the
        # pathological crawl entries measured 206-234 KB with ~3 KB-avg
        # lines. Caps chosen with headroom below the measured ~50 KB
        # per-operator tax threshold.
        max_line = max(len(ln) for ln in plan.splitlines())
        if max_line > 25_000 or len(plan) > 200_000:
            oversized.append((name, len(plan), max_line))
        scans = _python_rdd_scans(df) if "ExistingRDD" in plan else []
        if scans:
            rdd_scans.append((name, scans))
        _release(df)
        has_py = [w for w in PY_NODES if w in plan]
        if "BatchEvalPython" in has_py:
            offenders.append((name, "row-at-a-time BatchEvalPython"))
        elif has_py and name not in ARROW_ALLOWED:
            offenders.append((name, has_py))
        elif not has_py and name in ARROW_ALLOWED:
            missing_arrow.append(name)
        if name in EAGER_ALLOWED:
            continue

        def build(f=fn):
            _release(f(spark, SF))

        n = jobs_during(f"lazy_{name}", build)
        if n > baseline:
            eager.append((name, n - baseline))
    assert not offenders, f"python leaked into plans: {offenders}"
    assert not rdd_scans, f"entries scan a Python-built RDD: {rdd_scans}"
    # the allowlist must stay honest too: if an entry went pure-JVM,
    # remove it from ARROW_ALLOWED rather than carrying a stale exception
    assert not missing_arrow, f"ARROW_ALLOWED is stale: {missing_arrow}"
    assert not eager, (
        f"entries ran driver jobs at construction (beyond {baseline} "
        f"load_tables schema reads): {eager}")
    assert not oversized, (
        "plan text blew past the stringify-tax caps (name, plan chars, "
        f"max operator line): {oversized}")


@pytest.mark.parametrize("name,table,needed", [
    ("pricing_summary", "lineitem",
     {"l_returnflag", "l_linestatus", "l_quantity", "l_extendedprice",
      "l_discount", "l_tax", "l_shipdate"}),
    ("text_token_count", "documents", {"doc_id", "text"}),
    ("events_by_type", "events", {"event_type", "value", "user_id"}),
    ("events_json_extract", "events", {"event_type", "props"}),
    ("temporal_sessionize", "events", {"event_id", "user_id", "ts"}),
    ("dataset_split", "documents", {"doc_id"}),
    ("temporal_asof_join", "events",
     {"event_id", "user_id", "ts", "event_type"}),
])
def test_scan_prunes_columns(spark, name, table, needed):
    """The parquet scan must read ONLY the referenced columns (column
    pruning) — a scan that reads all columns for a narrow projection
    multiplies 100 TB of IO for nothing. Parsed from the FileScan output
    column list (ReadSchema truncates in toString)."""
    df = entrymod.queries()[name](spark, SF)
    plan = _plan(df)
    _release(df)
    import re
    scans = re.findall(r"FileScan parquet \[([^\]]*)\]", plan)
    assert scans, f"no parquet FileScan found in {name}"
    read_cols = {re.sub(r"#\d+L?", "", c.strip())
                 for s in scans for c in s.split(",") if c.strip()}
    # every needed column read, and nothing outside the needed set from
    # the probed table (other tables' columns may appear for join entries)
    assert needed <= read_cols | {"*"}, f"{name}: missing {needed - read_cols}"
    table_prefix = {"lineitem": "l_", "documents": "", "events": ""}[table]
    extra = {c for c in read_cols
             if c.startswith(table_prefix) and c not in needed}
    assert not extra, f"{name} reads unneeded columns: {extra}"


def test_dim_joins_are_broadcast(spark):
    """Snowflake entries must broadcast the small dimension tables, not
    shuffle the fact table against them."""
    df = entrymod.queries()["region_nation_revenue"](spark, SF)
    plan = _plan(df)
    _release(df)
    assert "BroadcastHashJoin" in plan, "dims not broadcast:\n" + plan[:2000]
    assert "SortMergeJoin" not in plan, "fact-side shuffle join appeared"


def test_entry_filters_are_pushed_down(spark):
    """A filter expressible on the scan must reach PushedFilters."""
    t = entrymod.load_tables(spark, SF)
    df = t["orders"].filter(F.col("o_orderpriority") == "1-URGENT") \
        .select("o_orderkey")
    plan = _plan(df)
    assert "PushedFilters: [" in plan
    assert "o_orderpriority" in plan.split("PushedFilters:")[1][:200], \
        "filter not pushed to the parquet scan"


# entries allowed driver-side jobs during CONSTRUCTION even on a repeat
# call, with the bounded-by-construction reason
EAGER_ALLOWED = {
    # connected components checkpoints the pair graph and collects it
    # for the driver union-find (bounded by rm.broadcastMaxBytes) each
    # call; the large-star/small-star loop covers bigger graphs
    "dedup_groups",
    # persisted-index probes re-open the on-disk index each call (that IS
    # the incremental contract — the index outlives any one batch): the
    # 1-2 jobs are directory-listing/footer reads of the index layout
    # (the minhash band partitions, the embedding vectors table), never
    # a data scan (the build-parameter check reads the schema of that
    # same read)
    "neardup_probe",
    "embedding_probe",
    "neardup_admit",
    # composes dedup_groups (the bounded union-find collect above)
    "image_dedup_groups",
    # r13: keep_best / the rate report compose dedup_groups too — same
    # bounded union-find edge collect at construction, nothing else
    # eager
    "dedup_keep_best",
    "dedup_rate_report",
    # materialized-artifact probe (same contract as the index probes):
    # re-opens the once-written shard tree each call — the jobs are
    # partition-directory listing / parquet footer reads bounded by the
    # shard count, never a corpus scan (the build itself runs once,
    # memoized per session+sf like the ANN/minhash indexes)
    "materialize_training_shards",
    "pipeline_training_shards",
    # r13: the manifest aggregates OVER the read-back artifact — same
    # bounded re-open jobs as its parent probe entry above
    "shard_manifest",
    # r17: the crawl->shards tail localCheckpoints the dedup boundary
    # (lineage cut — OPTIMIZATION_r17.md change 5); under AQE the
    # checkpoint's toRdd executes the crawl head's stages during
    # construction, so the head's jobs land at build time instead of
    # inside the first action. NOT hidden work: the bench/driver time
    # fn() + collect together, and the head still computes exactly
    # once per invocation from the parquet inputs (no cross-run memo).
    "pipeline_crawl_to_shards",
    "stream_crawl_to_shards",
    # r18: both crawl heads localCheckpoint the tiny capped-survivors
    # ⋈ payload frame (the structural barrier replacing the r17
    # OR-pin — entrypoints._pipeline_crawl_joined docstring), so the
    # head's stages run at construction under AQE, same contract as
    # the *_to_shards entries above.
    "pipeline_web_crawl",
    "stream_crawl_ingest",
}


def test_round6b_plan_shapes(spark):
    """Entry-specific physical-shape locks for the round-6b operators:
    the properties that make each one scale, asserted so a regression
    fails CI, not the 100 TB run."""
    qs = entrymod.queries()

    # doc_chunks / doc_chunks_cdc / text_pii_scrub: map-only — NO
    # Exchange anywhere (chunking/scrubbing a corpus must not shuffle)
    for name in ["doc_chunks", "doc_chunks_cdc", "text_pii_scrub"]:
        df = qs[name](spark, SF)
        plan = _plan(df)
        _release(df)
        assert "Exchange" not in plan, f"{name} shuffles:\n{plan[:1500]}"

    # dq_checks: FK orphan checks must be anti joins (no row
    # multiplication), uniqueness via hash aggregate (no sort window)
    df = qs["dq_checks"](spark, SF)
    plan = _plan(df)
    _release(df)
    assert "LeftAnti" in plan, "FK check lost its anti join"
    assert "Window" not in plan, "dq_checks grew a window sort"

    # weighted_sample: exactly ONE exchange (the per-group rank window)
    df = qs["weighted_sample"](spark, SF)
    plan = _plan(df)
    _release(df)
    n_ex = plan.count("Exchange") - plan.count("ReusedExchange")
    assert n_ex <= 1, f"weighted_sample shuffles {n_ex}x:\n{plan[:1500]}"

    # embedding_kmeans: centroid side reaches the join as a broadcast
    df = qs["embedding_kmeans"](spark, SF)
    plan = _plan(df)
    _release(df)
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan, \
        "kmeans centroids not broadcast"


def test_band_self_joins_are_shuffled_hash(spark):
    """The LSH band self-joins (minhash / simhash) must plan as
    ShuffledHashJoin, not SortMergeJoin: the (band, sig) buckets are
    near-uniform so SMJ's two sorts buy nothing (measured 2.5x the
    candidate stage on a sign-LSH band join of the same shape at
    sf0.1). The embedding near-dup entry has no band join: it is the
    exact cosine_join."""
    from radmapper_spark.session import load_tables
    qs = entrymod.queries()
    for name in ("dedup_minhash_lsh", "dedup_simhash"):
        df = qs[name](spark, SF)
        plan = _plan(df)
        assert "ShuffledHashJoin" in plan, f"{name}: band join not SHJ"
        _release(df)


def test_engine_conf_keys_are_the_known_set():
    """Every engine conf key (a string literal ``rm.<name>`` anywhere in
    the package) is the one the engine documents: the one broadcast cap
    (plan_stats.broadcast_gate), which also gates every driver-side
    graph collect. A new knob must be added here on purpose."""
    import ast
    import pathlib
    import re

    import radmapper_spark

    key = re.compile(r"rm\.[A-Za-z_][\w.]*")
    found = set()
    for path in pathlib.Path(radmapper_spark.__file__).parent.rglob("*.py"):
        for node in ast.walk(ast.parse(path.read_text())):
            if (isinstance(node, ast.Constant) and isinstance(node.value, str)
                    and key.fullmatch(node.value)):
                found.add(node.value)
    assert found == {"rm.broadcastMaxBytes"}


def test_one_owner_for_persisted_frames():
    """Every persist and local checkpoint in the package goes through
    session.persist, which registers the frame with the active scope:
    no other module calls ``.persist(``, ``.localCheckpoint(`` or
    ``.unpersist(``. And ``rm_release_cache`` (the handle a harness
    calls after its collect) is set in one place, the registry wrapper
    entrypoints._entry."""
    import ast
    import pathlib

    import radmapper_spark

    root = pathlib.Path(radmapper_spark.__file__).parent
    calls, handles = [], []
    for path in sorted(root.rglob("*.py")):
        rel = path.relative_to(root).as_posix()
        src = path.read_text()
        tree = ast.parse(src)
        wrapper = set()
        for node in ast.walk(tree):
            if isinstance(node, ast.FunctionDef) and rel == "entrypoints.py" \
                    and node.name == "_entry":
                wrapper = set(range(node.lineno, node.end_lineno + 1))
            if (isinstance(node, ast.Call)
                    and isinstance(node.func, ast.Attribute)
                    and node.func.attr in ("persist", "localCheckpoint",
                                           "unpersist")
                    and rel != "session.py"):
                calls.append(f"{rel}:{node.lineno} .{node.func.attr}(")
        for n, line in enumerate(src.splitlines(), 1):
            if "rm_release_cache" in line and n not in wrapper:
                handles.append(f"{rel}:{n}")
    assert not calls, f"persist outside session.persist: {calls}"
    assert not handles, f"rm_release_cache outside the registry: {handles}"
