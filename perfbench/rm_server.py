"""Child process of the rm_api workload: ``RMServer(spark=None)`` on an
ephemeral localhost port.

Prints the port on stdout, serves until its stdin closes, then stops.
With ``--trace OUT`` it wraps the route methods and the language,
builtin, local query/express and catalog functions before serving, and
writes span totals to OUT (and every span to OUT + ".spans.jsonl") when
it stops."""

from __future__ import annotations

import argparse
import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))
sys.path.insert(0, HERE)

from spans import Tracer, install_engine_tracing, patch_everywhere  # noqa: E402


def install(tracer: Tracer) -> None:
    from radmapper_spark import server as S
    for route in ("process_rm", "graph_get", "graph_put", "datalog_query"):
        patch_everywhere(S.RMServer, route,
                         tracer.wrap("server.route", getattr(S.RMServer, route)))
    install_engine_tracing(tracer)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--trace", default=None)
    args = ap.parse_args()
    tracer = Tracer()
    if args.trace:
        install(tracer)
        tracer.on = True
    from radmapper_spark.server import RMServer
    srv = RMServer(spark=None)
    print(srv.start(), flush=True)
    try:
        sys.stdin.read()  # the parent closes our stdin to stop us
    finally:
        srv.stop()
    if args.trace:
        tracer.on = False
        with open(args.trace, "w") as f:
            json.dump({"totals": tracer.totals(),
                       "parse_in_run": tracer.within("lang.parse", "lang.run"),
                       "counters": dict(tracer.counters)}, f)
        tracer.dump(args.trace + ".spans.jsonl")


if __name__ == "__main__":
    main()
