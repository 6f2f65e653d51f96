"""Catalyst plan statistics and the engine's one broadcast gate.

``est_plan_bytes`` surfaces the optimizer's own sizeInBytes estimate for
a DataFrame WITHOUT running a job — the right input for "should this
side be broadcast / can ranks live on every executor" decisions made at
plan-construction time. It is an upper-bound-ish heuristic (derived from
scan sizes through Catalyst's propagation rules), exactly the number
Spark itself compares against autoBroadcastJoinThreshold, so decisions
made from it agree with what the engine would do for a plain join.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

BROADCAST_MAX_BYTES_CONF = "rm.broadcastMaxBytes"
_DEFAULT_CAP = 256 << 20


def est_plan_bytes(df: DataFrame):
    """Optimizer-estimated size of ``df`` in bytes, or None when unknown:
    no plan stats, or Catalyst's no-stats sentinel (>= 2^62; local,
    RDD-backed and streaming micro-batch frames carry it)."""
    try:
        est = int(df._jdf.queryExecution().optimizedPlan()
                  .stats().sizeInBytes())
    except Exception:
        return None
    return est if est < 1 << 62 else None


def broadcast_cap(spark) -> int:
    """``rm.broadcastMaxBytes`` in bytes (256 MiB; an unparseable value
    means the default)."""
    try:
        return int(spark.conf.get(BROADCAST_MAX_BYTES_CONF, str(_DEFAULT_CAP)))
    except Exception:
        return _DEFAULT_CAP


def broadcast_gate(spark, est_bytes, if_unknown: bool) -> bool:
    """Broadcast a join side of ``est_bytes`` iff it is at most
    ``broadcast_cap``; an unknown size (None) returns ``if_unknown``."""
    if est_bytes is None:
        return bool(if_unknown)
    return est_bytes <= broadcast_cap(spark)
