"""The entries_small workload: rounds of a cold then a warm pass over a
fixed, named list of registry entries in one Spark session.

The list is iterated in the order written here, never in the order of
``queries()`` or ``ENTRIES`` (which the committed correctness history
reorders), because the order decides which entry pays for shared
derived frames. Each round reads its own fresh copy of the generated
tables, so its cold pass misses every table and derived-frame memo, as
new data does in a user's session. Every collected result is compared,
outside the timed section, with the entry's DuckDB oracle SQL over the
same generated files: column names, row count and order-insensitive
values."""

from __future__ import annotations

import itertools
import math
import os
import shutil
import statistics
import subprocess
import time

import duckdb

import gen
import spans

# per-entry driver cost dominates at sf0.01: the rm_* entries of the
# language pillar, a headline relational query, and one entry of each
# operator and streaming family, including an Arrow-UDF one
# (embedding_gram's mapInPandas), the iterative graph one and the
# shard-writing one
SMALL = (
    "rm_datalog_join", "rm_scalar_battery", "pricing_summary",
    "dedup_exact", "embedding_gram", "decontam_ngram",
    "graph_communities", "html_extract", "materialize_training_shards",
    "stream_tumbling",
)
LISTS = {"entries_small": SMALL}
MIN_ROUNDS = 2

FAMILIES = {
    "embedding": ("embedding_gram",),
    "text_dedup": ("dedup_exact",),
    "substring": ("decontam_ngram",),
    "graph": ("graph_communities",),
    "web": ("html_extract",),
    "shards": ("materialize_training_shards",),
    "relational": ("pricing_summary",),
    "rm_lang": tuple(n for n in SMALL if n.startswith("rm_")),
    "streaming": ("stream_tumbling",),
}
FAMILY_OF = {e: f for f, es in FAMILIES.items() for e in es}


# ------------------------------------------------------------ oracle

def _norm(v):
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else f"{v:.9g}"
    if isinstance(v, (list, tuple)):
        return tuple(_norm(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((k, _norm(x)) for k, x in v.items()))
    return str(v)


def _canon(rows, cols) -> list:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(tuple(_norm(r[i]) for i in order) for r in rows)


def check(results: dict, sql_of: dict, sf_dir: str) -> dict:
    """Entry name -> number of its collected results that differ from
    its oracle (or, without one, came back empty)."""
    con = duckdb.connect()
    bad: dict = {}
    try:
        for t in gen.TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
        for name, outs in results.items():
            sql = sql_of.get(name)
            if sql is None:
                n = sum(1 for _, rows in outs if len(rows) == 0)
            else:
                cur = con.execute(sql())
                o_cols = [d[0] for d in cur.description]
                want = _canon(cur.fetchall(), o_cols)
                n = sum(1 for cols, rows in outs
                        if sorted(cols) != sorted(o_cols)
                        or len(rows) != len(want) or _canon(rows, cols) != want)
            if n:
                bad[name] = n
    finally:
        con.close()
    return bad


# ------------------------------------------------------------ passes

class Runner:
    def __init__(self, E, spark, sf_dir: str, names: tuple, tracer: spans.Tracer):
        self.E, self.spark, self.sf_dir = E, spark, sf_dir
        self.names, self.tracer = names, tracer
        self.results: dict = {n: [] for n in names}
        self.errors: dict = {}
        self.attempted = 0
        self.latencies: list = []
        self.entry_ms: dict = {n: [] for n in names}
        self.plan_s = 0.0
        self.plan_kb = 0.0
        self.cache_rdds_max = 0
        self.cache_mb_max = 0.0

    def one_pass(self, tag: str | None) -> tuple:
        """Run every entry once; returns (wall seconds, family -> seconds,
        CPU seconds of the process tree). With a tag, jobs are grouped as
        '<tag>:<entry>:<phase>', the plan is forced apart from collect,
        and the cache is sampled."""
        sc = self.spark.sparkContext
        fams: dict = {}
        c_pass = spans.tree_cpu_s()
        t_pass = time.perf_counter()
        for name in self.names:
            fn = self.E.ENTRIES[name][0]
            self.attempted += 1
            if tag:
                sc.setJobGroup(f"{tag}:{name}:build", name)
            t0 = time.perf_counter()
            try:
                df = self.tracer.call("entrypoints.build", fn,
                                      (self.spark, self.sf_dir), {})
                if tag:
                    sc.setJobGroup(f"{tag}:{name}:collect", name)
                    t1 = time.perf_counter()
                    plan = df._jdf.queryExecution().executedPlan()
                    self.plan_s += time.perf_counter() - t1
                    self.plan_kb += len(plan.toString()) / 1024.0
                rows = df.collect()
                dt = time.perf_counter() - t0
                release = getattr(df, "rm_release_cache", None)
                if release is not None:
                    release()
                self.results[name].append((df.columns, rows))
            except Exception as exc:  # keep going; the entry counts as failed
                print(f"entry {name} failed: {exc!r}"[:400], flush=True)
                self.errors[name] = self.errors.get(name, 0) + 1
                continue
            self.latencies.append(dt)
            self.entry_ms[name].append(round(dt * 1000.0, 1))
            fam = FAMILY_OF[name]
            fams[fam] = fams.get(fam, 0.0) + dt
            if tag:
                jsc = sc._jsc
                self.cache_rdds_max = max(self.cache_rdds_max,
                                          jsc.getPersistentRDDs().size())
                mb = sum(i.memSize() + i.diskSize()
                         for i in jsc.sc().getRDDStorageInfo()) / 2 ** 20
                self.cache_mb_max = max(self.cache_mb_max, mb)
        wall = time.perf_counter() - t_pass
        cpu = spans.tree_cpu_s() - c_pass
        if tag:
            sc.setJobGroup("untagged", "")
        return wall, fams, cpu


def _warm_up(E, spark, names: tuple, sf_dir: str) -> None:
    """One untimed round, a cold and a warm pass, over a copy of the
    tables of its own. It pays the first-job, class-loading, parquet,
    codegen and Python-worker start-up costs, which made single first
    cold calls up to eight times slower than later ones. The measured
    rounds read other copies, new to the session."""
    for _ in range(2):
        for name in names:
            df = E.ENTRIES[name][0](spark, sf_dir)
            df.collect()
            release = getattr(df, "rm_release_cache", None)
            if release is not None:
                release()
    E.release_edge_cache()


def stop_spark(spark) -> None:
    """Stop the session, then the py4j gateway JVM, and wait for it."""
    from pyspark import SparkContext
    spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def run(workload: str, seed: int, seconds: float, trace: bool, root: str) -> dict:
    names = LISTS[workload]
    sf_dir = os.path.join(root, "tables")
    cores = int(os.environ["SPARK_GRAFT_CPUS"])
    tracer = spans.Tracer()
    layers = None
    with spans.RssMonitor() as rss:
        t0 = time.perf_counter()
        from radmapper_spark import entrypoints as E
        from radmapper_spark import session
        import_s = time.perf_counter() - t0
        missing = [n for n in names if n not in E.ENTRIES]
        if missing:
            raise SystemExit(f"entries missing from the registry: {missing}")
        t0 = time.perf_counter()
        spark = session.get_spark("perfbench")
        spark.sparkContext.setLogLevel("ERROR")
        get_spark_s = time.perf_counter() - t0
        try:
            t0 = time.perf_counter()
            gen.write_tables(sf_dir, seed, *gen.SIZES[workload])
            gen_s = time.perf_counter() - t0
            warm_dir = os.path.join(root, "tables_warm_up")
            shutil.copytree(sf_dir, warm_dir)
            t0 = time.perf_counter()
            _warm_up(E, spark, names, warm_dir)
            warm_up_s = time.perf_counter() - t0
            runner = Runner(E, spark, sf_dir, names, tracer)
            if trace:
                _install(tracer, session)
            setup_s = spans.process_age_s()
            cold, warm = [], []  # (wall s, CPU s) of each pass
            if trace:
                # cold (traced), warm, warm (traced), warm: the tracing
                # overhead compares the traced warm pass with the untraced
                # one after it. Warm passes still speed up from the first
                # to the second, so the untraced warm pass before the
                # traced one settles that; the pass after is at least as
                # warm, so the overhead is never understated
                E.release_edge_cache()
                io0 = spans.tree_io_bytes()
                tracer.on = True
                w, fam_cold, c = runner.one_pass("cold")
                io1 = spans.tree_io_bytes()
                cold.append((w, c))
                tracer.on = False
                before = runner.one_pass(None)[0]
                tracer.on = True
                w, fam_warm, c = runner.one_pass("warm")
                warm.append((w, c))
                tracer.on = False
                after = runner.one_pass(None)[0]
                overhead_passes = [round(x, 3) for x in (before, w, after)]
                E.release_edge_cache()
                leaked = spark.sparkContext._jsc.getPersistentRDDs().size()
            else:
                for k in itertools.count():
                    # a fresh copy of the same tables: a new path misses
                    # the session's table and derived-frame memos
                    runner.sf_dir = os.path.join(root, f"tables_{k}")
                    shutil.copytree(sf_dir, runner.sf_dir)
                    E.release_edge_cache()
                    cold.append(runner.one_pass(None)[::2])
                    warm.append(runner.one_pass(None)[::2])
                    if k + 1 >= MIN_ROUNDS \
                            and sum(p[0] for p in cold + warm) >= seconds:
                        break
        finally:
            t0 = time.perf_counter()
            stop_spark(spark)
            stop_s = time.perf_counter() - t0
    if trace:
        layers = _layers(tracer, runner, root, cores, cold[0][0], warm[0][0],
                         after, fam_cold, fam_warm, io1[0] - io0[0],
                         io1[1] - io0[1], leaked, import_s, get_spark_s)
    sql_of = {n: E.ENTRIES[n][1] for n in names}
    t0 = time.perf_counter()
    wrong = check({n: r for n, r in runner.results.items() if r}, sql_of, sf_dir)
    check_s = time.perf_counter() - t0
    lat = [x * 1000.0 for x in runner.latencies]
    walls = [p[0] for p in cold + warm]
    end_to_end = {
        "setup_s": (setup_s, "s"),
        "peak_rss_mb": (rss.peak_mb, "MB"),
        # means over the measured rounds, of which there are two as a rule
        "cold_pass_cpu_s": (statistics.fmean(p[1] for p in cold), "s"),
        "warm_pass_cpu_s": (statistics.fmean(p[1] for p in warm), "s"),
    }
    wall = {
        "req_p50_ms": round(statistics.median(lat), 3),
        "req_per_s": round(len(lat) / sum(walls), 4),
        "cold_pass_s": round(statistics.median(p[0] for p in cold), 3),
        "warm_pass_s": round(statistics.median(p[0] for p in warm), 3),
    }
    notes = {"entries": len(names), "rounds": len(cold),
             "overhead_passes_s": overhead_passes if trace else None,
             "gen_s": round(gen_s, 3), "import_s": round(import_s, 3),
             "get_spark_s": round(get_spark_s, 3), "warm_up_s": round(warm_up_s, 3),
             "stop_s": round(stop_s, 3), "oracle_check_s": round(check_s, 3),
             "pass_cpu_s": [round(p[1], 2) for p in cold + warm],
             "entry_ms_by_pass": runner.entry_ms}
    return {"attempted": runner.attempted,
            "failed": sum(runner.errors.values()) + sum(wrong.values()),
            "failed_names": sorted(set(runner.errors) | set(wrong)),
            "end_to_end": end_to_end, "wall": wall,
            "per_layer": layers, "notes": notes}


def _install(tracer: spans.Tracer, session) -> None:
    """Spans around the engine's language layer and load_tables; a
    load_tables call is a hit when its memo entry is present and fresh."""
    spans.install_engine_tracing(tracer)
    load = session.load_tables

    def load_tables(spark, sf_dir=session.DEFAULT_SF_DIR):
        hit = session._TABLE_CACHE.get((session.session_key(spark), sf_dir))
        if hit is not None and hit[0] is not None \
                and hit[0] == session.sf_fingerprint(sf_dir):
            tracer.add("session.load_tables_hits")
        return tracer.call("session.load_tables", load, (spark, sf_dir), {})
    spans.patch_everywhere(session, "load_tables", load_tables)


def _layers(tracer, runner, root, cores, cold, warm, untraced, fam_cold,
            fam_warm, io_read, io_write, leaked, import_s, get_spark_s) -> dict:
    tot = tracer.totals()

    def s(name):
        return tot.get(name, [0, 0.0])[1]

    def n(name):
        return tot.get(name, [0, 0.0])[0]

    spark_m, groups = spans.parse_event_log(
        spans.event_log_files(os.path.join(root, "eventlog")),
        cores, cold + warm,
        include=lambda g: bool(g) and g.split(":")[0] in ("cold", "warm"))
    build_groups = [v for g, v in groups.items() if g.endswith(":build")]
    mb = 1024.0 * 1024.0
    out = {
        "entrypoints.import_s": (import_s, "s"),
        "session.get_spark_s": (get_spark_s, "s"),
        "session.load_tables_ms": (s("session.load_tables") * 1000.0, "ms"),
        "session.load_tables_hit_ratio": (
            tracer.counters.get("session.load_tables_hits", 0)
            / max(1, n("session.load_tables")), "ratio"),
        "entrypoints.build_s": (s("entrypoints.build"), "s"),
        "entrypoints.eager_jobs": (sum(v[0] for v in build_groups), "count"),
        "entrypoints.eager_job_s": (sum(v[1] for v in build_groups), "s"),
        "catalyst.plan_s": (runner.plan_s, "s"),
        "catalyst.plan_text_kb": (runner.plan_kb, "KB"),
        "lang.parse_ms": (s("lang.parse") * 1000.0, "ms"),
        "lang.eval_ms": ((s("lang.run") - tracer.within("lang.parse", "lang.run"))
                         * 1000.0, "ms"),
        "lang.column_compile_ms": (s("lang.column_compile") * 1000.0, "ms"),
        "builtins.calls": (n("builtins"), "count"),
        "builtins.ms": (s("builtins") * 1000.0, "ms"),
        "query_local.ms": ((s("query_local") - tracer.within("query_spark", "query_local"))
                           * 1000.0, "ms"),
        "query_local.calls": (n("query_local") - n("query_spark"), "count"),
        "query_local.index_ms": (s("query_local.index") * 1000.0, "ms"),
        "query_local.bsets_out": (tracer.counters.get("query_local.bsets_out", 0), "count"),
        "express_local.ms": (s("express_local") * 1000.0, "ms"),
        "express_local.calls": (n("express_local"), "count"),
        "cache.persisted_rdds_max": (runner.cache_rdds_max, "count"),
        "cache.storage_mb_max": (runner.cache_mb_max, "MB"),
        "cache.leaked_rdds": (leaked, "count"),
        "io.read_mb": (io_read / mb, "MB"),
        "io.write_mb": (io_write / mb, "MB"),
        "bench.tracing_overhead_pct": (100.0 * (warm / untraced - 1.0), "%"),
    }
    out.update(spark_m)
    for fam in FAMILIES:
        out[f"family.{fam}.cold_s"] = (fam_cold.get(fam, 0.0), "s")
        out[f"family.{fam}.warm_s"] = (fam_warm.get(fam, 0.0), "s")
    tracer.dump(os.path.join(root, "spans.jsonl"))
    return out
