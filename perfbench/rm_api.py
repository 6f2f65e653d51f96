"""The rm_api workload: a closed loop of two clients, no think time,
against ``RMServer(spark=None)`` in a child process.

Each round sends a batch of program texts the server has not seen (the
cold pass), then the same texts with new data (the warm pass). Both
clients run their half of a pass concurrently, each sending its next
request as soon as the previous reply arrives; client 0 also carries all
catalog traffic. A reply counts as failed if it is not HTTP 200 or its
value differs from the plain-Python expected value."""

from __future__ import annotations

import http.client
import json
import os
import statistics
import subprocess
import sys
import threading
import time

import gen
import spans

HERE = os.path.dirname(os.path.abspath(__file__))
SET_VALUED = {"query_join", "datalog_qforms"}  # binding-set order is free
SETUPS = 5  # server set-ups per run; setup_s counts their median
MIN_REQUESTS = 1000  # so that at least ten samples lie beyond p99


def _canon(template: str, value):
    if template in SET_VALUED and isinstance(value, list):
        return sorted(json.dumps(v, sort_keys=True) for v in value)
    return value


def _send(port: int, req: dict) -> tuple:
    """(latency_s, ok) for one request on a fresh connection."""
    body = None if req["body"] is None else json.dumps(req["body"])
    t0 = time.perf_counter()
    conn = http.client.HTTPConnection("127.0.0.1", port, timeout=60)
    try:
        conn.request(req["method"], req["path"], body=body,
                     headers={"Content-Type": "application/json"})
        resp = conn.getresponse()
        raw = resp.read()
        status = resp.status
    except OSError:
        return time.perf_counter() - t0, False
    finally:
        conn.close()
    dt = time.perf_counter() - t0
    if status != 200:
        return dt, False
    got = json.loads(raw)
    if req["path"] == "/api/process-rm":
        got = got.get("result")
    return dt, _canon(req["template"], got) == _canon(req["template"], req["want"])


class Server:
    """The server child; `trace_out` turns on its span recording."""

    def __init__(self, env: dict, trace_out: str | None = None):
        cmd = [sys.executable, os.path.join(HERE, "rm_server.py")]
        if trace_out:
            cmd += ["--trace", trace_out]
        self.proc = subprocess.Popen(cmd, stdin=subprocess.PIPE,
                                     stdout=subprocess.PIPE, env=env)
        line = self.proc.stdout.readline()
        if not line.strip():
            self.stop()
            raise RuntimeError("rm_api server child did not start")
        self.port = int(line)

    def stop(self) -> None:
        if self.proc.stdin:
            self.proc.stdin.close()
        try:
            self.proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            self.proc.kill()
            self.proc.wait()
        self.proc.stdout.close()


def _start(env: dict, trace_out: str | None = None) -> Server:
    srv = Server(env, trace_out)
    warm = next(gen.rm_api_rounds(-1, per_client=6))[0]
    for req in warm[1]:  # no catalog traffic in the warm-up
        _send(srv.port, req)
    return srv


def _pass(srv: Server, lists: list, samples: list, r: int) -> tuple:
    """Run one pass (two client lists) concurrently; returns its wall
    time and the server's CPU time. samples gets (template, latency_s, ok, round r) for every
    request."""
    out = [[], []]

    def client(c):
        for req in lists[c]:
            dt, ok = _send(srv.port, req)
            out[c].append((req["template"], dt, ok, r))

    threads = [threading.Thread(target=client, args=(c,)) for c in (0, 1)]
    c0 = spans.tree_cpu_s(srv.proc.pid)
    t0 = time.perf_counter()
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    wall = time.perf_counter() - t0
    cpu = spans.tree_cpu_s(srv.proc.pid) - c0
    samples += out[0] + out[1]
    return wall, cpu


def _loop(srv: Server, seed: int, seconds: float, max_rounds: int | None = None):
    samples, cold, warm = [], [], []
    for r, passes in enumerate(gen.rm_api_rounds(seed)):
        if max_rounds is not None and r >= max_rounds:
            break
        cold.append(_pass(srv, passes[0], samples, r))
        warm.append(_pass(srv, passes[1], samples, r))
        if max_rounds is None and sum(p[0] for p in cold + warm) >= seconds \
                and len(samples) >= MIN_REQUESTS:
            break
    return samples, cold, warm


def run(seed: int, seconds: float, trace: bool, root: str, t_imports: float) -> dict:
    env = dict(os.environ, RM_CATALOG_PATH=os.path.join(root, "catalog.json"))
    with spans.RssMonitor() as rss:
        setups = []
        for _ in range(SETUPS):
            t0 = time.perf_counter()
            srv = _start(env)
            setups.append(time.perf_counter() - t0)
            if len(setups) < SETUPS:
                srv.stop()
        setup_s = t_imports + statistics.median(setups)
        try:
            io0 = spans.tree_io_bytes()
            samples, cold, warm = _loop(srv, seed, seconds)
            io1 = spans.tree_io_bytes()
        finally:
            srv.stop()
        layers, t_samples = None, []
        if trace:
            # the same rounds again on a fresh server that records spans;
            # the ratio of the two loops is the tracing overhead
            out = os.path.join(root, "server_trace.json")
            if os.path.exists(env["RM_CATALOG_PATH"]):
                os.remove(env["RM_CATALOG_PATH"])
            tsrv = _start(env, out)
            try:
                t_samples, t_cold, t_warm = _loop(tsrv, seed, 0, len(cold))
            finally:
                tsrv.stop()
            with open(out) as f:
                child = json.load(f)
            layers = _layers(child, t_samples, len(t_cold),
                             sum(p[0] for p in t_cold + t_warm),
                             sum(p[0] for p in cold + warm),
                             (io1[0] - io0[0]) / len(cold),
                             (io1[1] - io0[1]) / len(cold))
    # the wall-time report lines are medians over rounds of each round's
    # value, so a burst of machine noise that hits a few rounds moves them
    # little; the bounded metrics are the server's CPU time, which time
    # stolen by the hypervisor does not inflate
    lat = [s[1] * 1000.0 for s in samples]
    by_round = [[s[1] * 1000.0 for s in samples if s[3] == r]
                for r in range(len(cold))]
    puts = [s[1] * 1000.0 for s in samples if s[0] == "catalog_put"]
    checked = samples + t_samples
    failed = sorted({s[0] for s in checked if not s[2]})
    end_to_end = {
        "setup_s": (setup_s, "s"),
        "peak_rss_mb": (rss.peak_mb, "MB"),
        # means, not medians: one pass reads only a few clock ticks
        "cold_pass_cpu_s": (statistics.fmean(p[1] for p in cold), "s"),
        "warm_pass_cpu_s": (statistics.fmean(p[1] for p in warm), "s"),
    }
    wall = {
        "req_p50_ms": round(statistics.median(statistics.median(x) for x in by_round), 3),
        "req_p99_ms": round(spans.percentile(lat, 99), 3),
        "req_per_s": round(statistics.median(
            len(x) / (c[0] + w[0]) for x, c, w in zip(by_round, cold, warm)), 3),
        "put_p90_ms": round(spans.percentile(puts, 90), 3) if puts else 0.0,
        "cold_pass_s": round(statistics.median(p[0] for p in cold), 4),
        "warm_pass_s": round(statistics.median(p[0] for p in warm), 4),
    }
    notes = {
        "requests": len(samples), "rounds": len(cold),
        "req_p90_ms": round(spans.percentile(lat, 90), 3),
        "catalog_requests": sum(1 for s in samples if s[0].startswith("catalog")),
        "server_cpu_ms_per_req": round(
            1000.0 * sum(p[1] for p in cold + warm) / len(samples), 3),
    }
    return {"attempted": len(checked),
            "failed": sum(1 for s in checked if not s[2]),
            "failed_names": failed, "end_to_end": end_to_end, "wall": wall,
            "per_layer": layers, "notes": notes}


def _layers(child: dict, samples: list, rounds: int, traced_s: float,
            untraced_s: float, io_read: int, io_write: int) -> dict:
    """Per-layer metrics of the traced server, per round (one cold plus
    one warm pass)."""
    tot = child["totals"]
    cnt = child["counters"]

    def ms(name):
        return tot.get(name, [0, 0.0])[1] * 1000.0 / rounds

    def calls(name):
        return tot.get(name, [0, 0.0])[0] / rounds

    client_ms = sum(s[1] for s in samples) * 1000.0 / rounds
    puts = cnt.get("readers.puts", 0)
    mb = 1024.0 * 1024.0
    return {
        "server.route_ms": (ms("server.route"), "ms"),
        "server.http_ms": (client_ms - ms("server.route"), "ms"),
        "lang.parse_ms": (ms("lang.parse"), "ms"),
        "lang.eval_ms": (ms("lang.run") - child["parse_in_run"] * 1000.0 / rounds, "ms"),
        "builtins.calls": (calls("builtins"), "count"),
        "builtins.ms": (ms("builtins"), "ms"),
        "query_local.ms": (ms("query_local"), "ms"),
        "query_local.calls": (calls("query_local"), "count"),
        "query_local.index_ms": (ms("query_local.index"), "ms"),
        "query_local.bsets_out": (cnt.get("query_local.bsets_out", 0) / rounds, "count"),
        "express_local.ms": (ms("express_local"), "ms"),
        "express_local.calls": (calls("express_local"), "count"),
        "readers.catalog_get_ms": (ms("readers.catalog_get"), "ms"),
        "readers.rm_put_ms": (ms("readers.rm_put"), "ms"),
        "readers.catalog_bytes_per_put": (
            cnt.get("readers.catalog_bytes", 0) / puts if puts else 0.0, "bytes"),
        "io.read_mb": (io_read / mb, "MB"),
        "io.write_mb": (io_write / mb, "MB"),
        "bench.tracing_overhead_pct": (
            100.0 * (traced_s / untraced_s - 1.0), "%"),
    }
