"""SparkSession construction tuned for the engine.

Local testing runs on ``local[$SPARK_GRAFT_CPUS]`` (default 32 threads,
single JVM); the conf below is nevertheless written for a real multi-executor
cluster at ~100 TB:

- AQE on (runtime re-planning, skew-join splitting, partition coalescing)
  so the same logical plans survive a 1000x scale-up without hand-tuning.
- ``spark.sql.shuffle.partitions`` sized from the env (small local default;
  a cluster deployment overrides via ``SPARK_GRAFT_SHUFFLE_PARTITIONS`` or
  relies on AQE coalescing from a high initial value).
- Arrow enabled for every pandas-UDF boundary (the only places Python
  touches row data).
- Broadcast threshold left at default; plans additionally use explicit
  ``F.broadcast`` hints for dimension tables (region/nation/supplier) so the
  intent survives even where stats are missing.

Persisted intermediates have one owner. Every persist and local
checkpoint in the package goes through ``persist``, which registers the
frame with the active ``Scope``; releasing the scope frees everything
registered with it at once. Four places open a scope: an entry build
(the ``entrypoints.ENTRIES`` wrapper, released by the caller after its
collect through the returned frame's release handle), a streaming
micro-batch (``streaming.state.start_batches``, released when the batch
body ends), a ``memo`` build (released with the memo entry) and
``Interp.run`` (released once the result is materialized). A persist
made outside any scope belongs to the caller, as in plain PySpark.
"""

from __future__ import annotations

import contextlib
import os
from contextvars import ContextVar

from pyspark.sql import DataFrame, SparkSession

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


# Entries of Spark's generated-class cache (spark.sql.codegen.cache.
# maxEntries, a static conf; Spark's default is 100). Counted with an
# unbounded cache at 4 cores: the 10 entries of perfbench's
# entries_small compile 172 distinct classes over a cold and a warm
# pass at sf0.01 (later rounds over fresh table copies compile none),
# and one pass over the 138 entries of test_headline at sf0.001 in the
# same session takes the count to 2,487. At 100 the LRU evicts part of
# either working set, so every pass recompiles it (Janino, driver CPU
# per class); this size holds the larger one with headroom.
CODEGEN_CACHE_ENTRIES = 4096


def get_spark(app_name: str = "radmapper-spark") -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    shuffle_parts = os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", str(max(int(cpus), 8)))
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", shuffle_parts)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
        .config("spark.ui.enabled", "false")
        # Driver parquet writes TIMESTAMP(NANOS), which Spark's vectorized
        # reader rejects; read as epoch-nanos longs and rebuild timestamps
        # in load_tables (truncation to micros matches DuckDB's view).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.codegen.cache.maxEntries",
                str(CODEGEN_CACHE_ENTRIES))
    )
    return builder.getOrCreate()


# Columns stored as TIMESTAMP(NANOS) in the driver parquet; surfaced to
# Spark as epoch-nano longs (see nanosAsLong conf) and rebuilt here.
TS_NANO_COLS = {
    "lineitem": ("l_shipdate",),
    "orders": ("o_orderdate",),
    "events": ("ts",),
}


def sf_fingerprint(sf_dir: str):
    """(name, mtime_ns, size) of every parquet file under sf_dir — the
    staleness witness of every ``memo`` entry. mtime_ns (not seconds)
    so same-tick rewrites are distinguishable. One os.stat per file:
    separate stat calls for mtime and size could interleave with a
    rewrite and yield a chimeric (old-mtime, new-size) witness (r11
    advice)."""
    try:
        out = []
        for n in sorted(os.listdir(sf_dir)):
            if n.endswith(".parquet"):
                st = os.stat(os.path.join(sf_dir, n))
                out.append((n, st.st_mtime_ns, st.st_size))
        return tuple(out)
    except OSError:
        return None


def session_key(spark: SparkSession) -> tuple:
    """Stable identity for a live SparkSession, safe to key caches by.

    ``id(spark)`` is NOT safe: CPython reuses freed object addresses, so
    a new session can alias a stopped one's id and a cache would hand
    back DataFrames bound to the dead session. (applicationId,
    startTime) is unique per SparkContext — a restarted context gets a
    fresh appId (and, pathologically, at least a fresh startTime)."""
    sc = spark.sparkContext
    return (sc.applicationId, sc.startTime)


class Scope:
    """The frames persisted while the scope was active (``with scope:``;
    scopes nest, and a frame joins the innermost). ``release()`` frees
    them all."""

    def __init__(self):
        self._held: list = []
        self._token = None

    def __enter__(self) -> "Scope":
        self._token = _ACTIVE.set(self)
        return self

    def __exit__(self, *exc) -> None:
        _ACTIVE.reset(self._token)

    def release(self) -> None:
        held, self._held = self._held, []
        for df in held:
            _free(df)


# a ContextVar, not a global: a stream thread's micro-batch scope never
# sees (or releases) a build running concurrently on another thread
_ACTIVE: ContextVar = ContextVar("rm_scope", default=None)


def owned(build):
    """``(build(), scope)``: run ``build`` in a fresh scope and hand
    the scope to the caller, who releases it once the value is
    consumed; a build that raises releases it at once."""
    s = Scope()
    try:
        with s:
            return build(), s
    except BaseException:
        s.release()
        raise


@contextlib.contextmanager
def scope():
    """Run the block in a fresh scope, released when the block ends."""
    s = Scope()
    with s:
        try:
            yield s
        finally:
            s.release()


def persist(df: DataFrame, checkpoint: bool = False,
            eager: bool = True) -> DataFrame:
    """The package's one persist: ``df.persist()``, or with
    ``checkpoint`` a ``localCheckpoint(eager)`` (which also cuts the
    lineage), registered with the active scope."""
    df = df.localCheckpoint(eager=eager) if checkpoint else df.persist()
    active = _ACTIVE.get()
    if active is not None:
        active._held.append(df)
    return df


def release(df: DataFrame) -> None:
    """Free one frame made by ``persist`` now, before its scope ends
    (a checkpoint the caller has already consumed)."""
    active = _ACTIVE.get()
    if active is not None:
        active._held = [f for f in active._held if f is not df]
    _free(df)


def _free(df: DataFrame) -> None:
    try:
        if df.is_cached:
            df.unpersist()
        else:  # a local checkpoint: its LogicalRDD's blocks
            df._jdf.queryExecution().analyzed().rdd().unpersist(False)
    except Exception:
        pass  # a dead session's frames cannot be unpersisted


# kind -> {(session_key, sf_dir, *params): (fingerprint, value, release)},
# at most one entry per kind (see memo).
_MEMO: dict = {}
# kind -> [hits, misses, rebuilds]
_MEMO_STATS: dict = {}
# the table kind's store, read by perfbench's load_tables tracer
_TABLE_CACHE = _MEMO.setdefault("tables", {})


def memo(kind: str, spark: SparkSession, sf_dir: str, params: tuple,
         build, release=None):
    """The one memo for state derived from an sf_dir: table plans,
    persisted derived frames, driver-side fits and codebooks, on-disk
    index trees.

    ``build()`` runs in a scope of its own, released with the memo
    entry, so frames it persists live exactly as long as the entry;
    ``release(value)`` is for state that is not a frame.

    The key is (session_key, sf_dir, *params). The sf_dir fingerprint
    is taken BEFORE ``build()`` runs (a rewrite racing the build leaves
    an older stamp, so the next call rebuilds) and is checked on every
    hit; a None fingerprint (blind witness) never matches, so it
    rebuilds rather than risk serving stale state. Each kind holds ONE
    live entry: a miss calls ``release(value)`` on the kind's previous
    entry — a stale one, another sf_dir's or a dead session's — before
    building. Kinds must therefore be chosen so that nothing one pass
    reuses shares a kind with anything else it reuses."""
    key = (session_key(spark), sf_dir) + tuple(params)
    store = _MEMO.setdefault(kind, {})
    stats = _MEMO_STATS.setdefault(kind, [0, 0, 0])
    fp = sf_fingerprint(sf_dir)
    hit = store.get(key)
    if hit is not None and hit[0] is not None and hit[0] == fp:
        stats[0] += 1
        return hit[1]
    stats[1 if hit is None else 2] += 1
    _release_store(store)
    value, frames = owned(build)

    def free(v):
        try:
            if release is not None:
                release(v)
        finally:
            frames.release()
    store[key] = (fp, value, free)
    return value


def _release_store(store: dict) -> int:
    n = len(store)
    for _fp, value, release in store.values():
        try:
            release(value)
        except Exception:
            pass  # a dead session's state cannot be released
    store.clear()
    return n


def release_memos(prefix: str = "") -> int:
    """Release every memo entry whose kind starts with ``prefix`` (all
    of them by default); returns the number released."""
    return sum(_release_store(store) for kind, store in _MEMO.items()
               if kind.startswith(prefix))


def memo_stats() -> dict:
    """kind -> {"hits", "misses", "rebuilds"} counts since start-up
    (a rebuild is a miss on a key whose entry went stale)."""
    return {kind: dict(zip(("hits", "misses", "rebuilds"), v))
            for kind, v in _MEMO_STATS.items()}


def load_tables(spark: SparkSession, sf_dir: str = DEFAULT_SF_DIR) -> dict:
    """Load the driver-provided parquet tables as DataFrames.

    Reads are plain ``spark.read.parquet`` so Catalyst gets predicate
    pushdown + column pruning into the scan for free. The nano-timestamp
    rebuild is a cheap projection; pushdown on the rebuilt column becomes a
    filter on the underlying long, which still prunes row groups.

    Memoized (kind "tables"): DataFrames are immutable logical plans, so
    every caller can share them; what this saves is the 10 parquet footer
    reads + schema resolutions a fresh load pays (~0.3 s per call).
    """
    return dict(memo("tables", spark, sf_dir, (),
                     lambda: _read_tables(spark, sf_dir),
                     release=lambda _t: _refresh_tables(spark, sf_dir)))


def _read_tables(spark: SparkSession, sf_dir: str) -> dict:
    from pyspark.sql import functions as F

    # The driver may hand us a session built without our configs; this conf
    # is runtime-settable and required to read the TIMESTAMP(NANOS) parquet.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    # The NTZ->LTZ cast below is wall-clock-identical only when the session
    # timezone is UTC; pin it so driver-provided sessions match the
    # bigint epoch-micros path exactly.
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    out = {}
    for name in TABLES:
        df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
        for c in TS_NANO_COLS.get(name, ()):
            dt = dict(df.dtypes).get(c)
            if dt == "bigint":
                df = df.withColumn(c, F.timestamp_micros(F.expr(f"`{c}` div 1000")))
            elif dt == "timestamp_ntz":
                # Newer driver parquet stores TIMESTAMP(MICROS) without UTC
                # adjustment, which Spark surfaces as TIMESTAMP_NTZ. The
                # session runs in UTC, so the cast is wall-clock-identical;
                # LTZ is required by withWatermark and the datetime builtins.
                df = df.withColumn(c, F.col(c).cast("timestamp"))
        out[name] = df
    return out


def _refresh_tables(spark: SparkSession, sf_dir: str) -> None:
    """Release of a table memo entry: drop Spark's own cached file
    listings under the directory. A memoized DataFrame pins the
    FileStatus listing (file lengths, split offsets) captured at first
    load, so after an external rewrite a re-executed plan could read the
    new file with stale offsets (EOF / corrupt-footer failures)."""
    for name in TABLES:
        try:
            spark.catalog.refreshByPath(f"{sf_dir}/{name}.parquet")
        except Exception:
            pass  # table absent under a partial/custom dir: nothing cached
