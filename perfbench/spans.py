"""Spans, function patching and process/Spark measurements for the
benchmark. Nothing here is imported by the engine: the benchmark wraps
engine functions from outside, in its own process (or in the rm_api
server child), only when a run is traced."""

from __future__ import annotations

import json
import math
import os
import statistics
import sys
import threading
import time
from collections import defaultdict


class Tracer:
    """In-memory spans (name, start, end, parent) plus counters.

    ``totals()`` sums, per span name, the calls and the time of the
    outermost span of that name on its thread, so a recursive builtin or
    nested run() is not counted twice."""

    def __init__(self):
        self.on = False
        self.spans: list = []   # (id, parent_id, name, t0, t1, nested)
        self.counters: dict = defaultdict(float)
        self._local = threading.local()
        self._lock = threading.Lock()

    def _stack(self) -> list:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def call(self, name: str, fn, args, kwargs, on_result=None):
        if not self.on:
            return fn(*args, **kwargs)
        st = self._stack()
        nested = any(n == name for _, n in st)
        with self._lock:
            sid = len(self.spans)
            self.spans.append(None)
        parent = st[-1][0] if st else None
        st.append((sid, name))
        t0 = time.perf_counter()
        try:
            res = fn(*args, **kwargs)
            if on_result is not None:
                on_result(self, res, args)
            return res
        finally:
            t1 = time.perf_counter()
            st.pop()
            self.spans[sid] = (sid, parent, name, t0, t1, nested)

    def wrap(self, name: str, fn, on_result=None):
        tracer = self

        def wrapper(*args, **kwargs):
            return tracer.call(name, fn, args, kwargs, on_result)
        wrapper.__wrapped__ = fn
        wrapper.__name__ = getattr(fn, "__name__", name)
        return wrapper

    def add(self, key: str, value: float = 1.0) -> None:
        if self.on:
            with self._lock:
                self.counters[key] += value

    def totals(self) -> dict:
        """name -> (calls, seconds in outermost spans)."""
        out: dict = defaultdict(lambda: [0, 0.0])
        for s in self.spans:
            if s is None:
                continue
            _, _, name, t0, t1, nested = s
            out[name][0] += 1
            if not nested:
                out[name][1] += t1 - t0
        return dict(out)

    def within(self, name: str, ancestor: str) -> float:
        """Seconds in outermost `name` spans that run inside an
        `ancestor` span."""
        total = 0.0
        for s in self.spans:
            if s is None or s[2] != name or s[5]:
                continue
            p = s[1]
            while p is not None and self.spans[p][2] != ancestor:
                p = self.spans[p][1]
            if p is not None:
                total += s[4] - s[3]
        return total

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                if s is not None:
                    f.write(json.dumps(
                        {"id": s[0], "parent": s[1], "name": s[2],
                         "start": s[3], "end": s[4]}) + "\n")


def patch_everywhere(obj, attr: str, wrapper, package: str = "radmapper_spark"):
    """Replace obj.attr with wrapper, and every other binding of the same
    function object in the package's loaded modules (callers that did
    ``from x import f`` hold their own reference)."""
    original = getattr(obj, attr)
    setattr(obj, attr, wrapper)
    for name, mod in list(sys.modules.items()):
        if mod is None or not (name == package or name.startswith(package + ".")):
            continue
        for k, v in list(vars(mod).items()):
            if v is original:
                setattr(mod, k, wrapper)
    return original


def install_engine_tracing(tracer: Tracer) -> None:
    """Wrap the language, builtin, local query/express, Column-compiler
    and catalog functions of the engine with spans of `tracer`."""
    from radmapper_spark.functions import builtins
    from radmapper_spark.lang import columns, interp, parser
    from radmapper_spark.operators import express_local, query_local, query_spark
    from radmapper_spark.sources import readers

    def wrap(obj, attr, name, on_result=None):
        patch_everywhere(obj, attr,
                         tracer.wrap(name, getattr(obj, attr), on_result))

    wrap(parser, "parse", "lang.parse")
    wrap(interp.Interp, "run", "lang.run")
    wrap(interp.Interp, "run_raw", "lang.run")
    wrap(columns, "rm_column", "lang.column_compile")
    wrap(columns, "rm_select", "lang.column_compile")
    for b in builtins.REGISTRY.values():
        b.fn = tracer.wrap("builtins", b.fn)

    def count_bsets(t, res, args):
        if isinstance(res, list):
            t.add("query_local.bsets_out", len(res))
    wrap(query_local, "run_query", "query_local", count_bsets)
    # run_query hands queries over Spark tables to query_spark; that share
    # is subtracted from the local-query metrics
    wrap(query_spark, "run_query_spark", "query_spark")
    wrap(query_local.LocalDB, "add_data", "query_local.index")
    wrap(express_local, "reduce_express", "express_local")
    wrap(express_local, "instantiate_body", "express_local")
    wrap(readers, "catalog_get", "readers.catalog_get")

    def catalog_size(t, res, args):
        t.add("readers.puts")
        t.add("readers.catalog_bytes", os.path.getsize(readers.CATALOG_PATH))
    wrap(readers, "rm_put", "readers.rm_put", catalog_size)


# ------------------------------------------------------------ processes

def _children(pid: int) -> list:
    out = []
    try:
        for tid in os.listdir(f"/proc/{pid}/task"):
            with open(f"/proc/{pid}/task/{tid}/children") as f:
                out += [int(x) for x in f.read().split()]
    except OSError:
        pass
    return out


def process_tree(pid: int | None = None) -> list:
    pid = os.getpid() if pid is None else pid
    todo, seen = [pid], []
    while todo:
        p = todo.pop()
        if p not in seen:
            seen.append(p)
            todo += _children(p)
    return seen


def tree_rss_kb(pid: int | None = None) -> dict:
    out = {}
    for p in process_tree(pid):
        try:
            with open(f"/proc/{p}/status") as f:
                for line in f:
                    if line.startswith("VmRSS:"):
                        out[p] = int(line.split()[1])
                        break
        except OSError:
            pass
    return out


def tree_io_bytes(pid: int | None = None) -> tuple:
    """(read_bytes, write_bytes) at the storage layer, summed over the
    live process tree (/proc/<pid>/io)."""
    rd = wr = 0
    for p in process_tree(pid):
        try:
            with open(f"/proc/{p}/io") as f:
                vals = dict(line.split(": ") for line in f.read().splitlines())
            rd += int(vals.get("read_bytes", 0))
            wr += int(vals.get("write_bytes", 0))
        except (OSError, ValueError):
            pass
    return rd, wr


JIT_THREADS = ("C1 CompilerThre", "C2 CompilerThre")


def _thread_jit_ticks(pid: int) -> int:
    """User plus system ticks of the JVM's JIT compiler threads of one
    process (none for a process that is not a JVM)."""
    ticks = 0
    try:
        tids = os.listdir(f"/proc/{pid}/task")
    except OSError:
        return 0
    for tid in tids:
        try:
            with open(f"/proc/{pid}/task/{tid}/stat") as f:
                raw = f.read()
        except OSError:
            continue
        if raw[raw.index("(") + 1:raw.rindex(")")].startswith(JIT_THREADS):
            fields = raw.rsplit(")", 1)[1].split()
            ticks += int(fields[11]) + int(fields[12])
    return ticks


def tree_cpu_s(pid: int | None = None) -> float:
    """User plus system CPU seconds of the live process tree, each
    process with the reaped children it waited for, less the JVM's JIT
    compiler threads. The kernel charges time stolen by the hypervisor
    to no process, so steal does not inflate this sum as it does wall
    time; a host that runs the VM's instructions slower still does. The
    compiler's CPU falls from pass to pass as it
    runs out of work, and when it runs varies from run to run; the JVM
    keeps its compiler threads (-XX:-UseDynamicNumberOfCompilerThreads),
    so none of their time leaves this sum by a thread's exit."""
    ticks = 0
    for p in process_tree(pid):
        try:
            with open(f"/proc/{p}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
            ticks += sum(int(x) for x in fields[11:15])
        except (OSError, ValueError, IndexError):
            continue
        ticks -= _thread_jit_ticks(p)
    return ticks / os.sysconf("SC_CLK_TCK")


class RssMonitor:
    """Samples the RSS of this process tree (JVM and server child
    included) every `period` seconds; `peak_mb` is the largest sum. A
    sum counts only processes that the sample before saw too: a child
    that the JVM forks to exec a command shares, and so reports, the
    JVM's whole RSS for the few milliseconds it lives, which once
    nearly doubled a run's peak."""

    def __init__(self, period: float = 0.1):
        self.period = period
        self.peak_mb = 0.0
        self._last: dict = {}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _sample(self):
        now = tree_rss_kb()
        total = sum(kb for p, kb in now.items() if p in self._last)
        self.peak_mb = max(self.peak_mb, total / 1024.0)
        self._last = now

    def _run(self):
        while True:
            self._sample()
            if self._stop.wait(self.period):
                return

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()
        self._sample()


def process_age_s() -> float:
    """Seconds since this process started (kernel start time)."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    return (time.clock_gettime(time.CLOCK_BOOTTIME)
            - start_ticks / os.sysconf("SC_CLK_TCK"))


def stat_jiffies() -> tuple:
    """(steal, total) jiffies from /proc/stat, as bench.py reads them."""
    try:
        with open("/proc/stat") as f:
            vals = [int(x) for x in f.readline().split()[1:]]
        return (vals[7] if len(vals) > 7 else 0), max(1, sum(vals))
    except (OSError, ValueError):
        return 0, 1


# ------------------------------------------------------------ event log

PY_SENT = "data sent to Python workers"
PY_RECV = "data returned from Python workers"


def event_log_files(log_dir: str) -> list:
    """The event files under log_dir in write order (Spark 4 writes an
    ``eventlog_v2_<app>/events_<n>_<app>`` directory per application)."""
    found = []
    for base, _, files in os.walk(log_dir):
        for f in files:
            if f.startswith("events_"):
                found.append((int(f.split("_")[1]), os.path.join(base, f)))
            elif f.startswith(("local-", "app-")) and not f.endswith(".crc"):
                found.append((0, os.path.join(base, f)))
    return [p for _, p in sorted(found)]


def parse_event_log(paths: list, cores: int, wall_s: float,
                    include=lambda group: True) -> tuple:
    """Aggregate uncompressed Spark event log files over the jobs whose
    job group satisfies `include`.

    Returns (metrics, per_group) where per_group maps a job group to
    [jobs, job seconds]."""
    job_group, job_t0, job_t1, stage_job = {}, {}, {}, {}
    stage_tasks: dict = defaultdict(list)
    m = defaultdict(float)
    for line in _lines(paths):
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            jid = ev["Job ID"]
            props = ev.get("Properties") or {}
            job_group[jid] = props.get("spark.jobGroup.id")
            job_t0[jid] = ev.get("Submission Time", 0)
            for sid in ev.get("Stage IDs") or []:
                stage_job[sid] = jid
        elif kind == "SparkListenerJobEnd":
            job_t1[ev["Job ID"]] = ev.get("Completion Time", 0)
        elif kind == "SparkListenerTaskEnd":
            jid = stage_job.get(ev.get("Stage ID"))
            if not include(job_group.get(jid)):
                continue
            info = ev.get("Task Info") or {}
            tm = ev.get("Task Metrics") or {}
            m["tasks"] += 1
            m["executor_run_ms"] += tm.get("Executor Run Time", 0)
            m["executor_cpu_ns"] += tm.get("Executor CPU Time", 0)
            m["gc_ms"] += tm.get("JVM GC Time", 0)
            sr = tm.get("Shuffle Read Metrics") or {}
            m["shuffle_read"] += (sr.get("Remote Bytes Read", 0)
                                  + sr.get("Local Bytes Read", 0))
            sw = tm.get("Shuffle Write Metrics") or {}
            m["shuffle_write"] += sw.get("Shuffle Bytes Written", 0)
            m["spill"] += tm.get("Disk Bytes Spilled", 0)
            for acc in info.get("Accumulables") or []:
                name = acc.get("Name")
                if name in (PY_SENT, PY_RECV):
                    try:
                        m[name] += float(acc.get("Update") or 0)
                    except (TypeError, ValueError):
                        pass
            dur = info.get("Finish Time", 0) - info.get("Launch Time", 0)
            stage_tasks[(ev.get("Stage ID"), ev.get("Stage Attempt ID"))] \
                .append(dur)
    skew = 1.0
    for durs in stage_tasks.values():
        if len(durs) >= 2:
            med = statistics.median(durs)
            if med > 0:
                skew = max(skew, max(durs) / med)
    per_group: dict = defaultdict(lambda: [0, 0.0])
    for j, t0 in job_t0.items():
        g = job_group.get(j)
        if include(g):
            per_group[g][0] += 1
            per_group[g][1] += (job_t1.get(j, t0) - t0) / 1000.0
    mb = 1024.0 * 1024.0
    metrics = {
        "spark.jobs": (sum(v[0] for v in per_group.values()), "count"),
        "spark.tasks": (m["tasks"], "count"),
        "spark.exec_s": (sum(v[1] for v in per_group.values()), "s"),
        "spark.executor_run_s": (m["executor_run_ms"] / 1000.0, "s"),
        "spark.executor_cpu_s": (m["executor_cpu_ns"] / 1e9, "s"),
        "spark.gc_s": (m["gc_ms"] / 1000.0, "s"),
        "spark.shuffle_read_mb": (m["shuffle_read"] / mb, "MB"),
        "spark.shuffle_write_mb": (m["shuffle_write"] / mb, "MB"),
        "spark.spill_mb": (m["spill"] / mb, "MB"),
        "spark.task_skew": (skew, "ratio"),
        "spark.core_util": (m["executor_run_ms"] / 1000.0
                            / max(1e-9, wall_s * cores), "ratio"),
        "python.bytes_sent_mb": (m[PY_SENT] / mb, "MB"),
        "python.bytes_recv_mb": (m[PY_RECV] / mb, "MB"),
    }
    return metrics, dict(per_group)


def _lines(paths: list):
    for p in paths:
        with open(p) as f:
            yield from f


def percentile(values: list, q: float) -> float:
    """Nearest-rank percentile (q in 0..100) of a non-empty list."""
    xs = sorted(values)
    return xs[max(0, min(len(xs) - 1, math.ceil(q / 100.0 * len(xs)) - 1))]
