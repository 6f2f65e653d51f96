"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship query at sf0.001; ``queries()`` maps each
implemented SURVEY.md §2 operator (plus the training-data extensions) to a
(spark, sf_dir) -> DataFrame callable; ``oracle_sql()`` gives the DuckDB
equivalent for the correctness gate. Registry lives in
radmapper_spark/entrypoints.py.
"""

from __future__ import annotations

import glob
import json
import os
import re
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from radmapper_spark import headline
from radmapper_spark.entrypoints import ENTRIES
from radmapper_spark.session import load_tables

_HERE = os.path.dirname(os.path.abspath(__file__))


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    t = load_tables(spark, "/root/testdata/sf0.001")
    return headline.pricing_summary(t)


def last_green(root: str = _HERE) -> dict[str, int]:
    """Entry -> newest round whose row in ``root``'s CORRECTNESS_r*.json
    is fully green (rows, schema and hash match, no error). A file that
    does not parse is skipped."""
    last: dict[str, int] = {}
    for path in glob.glob(os.path.join(root, "CORRECTNESS_r*.json")):
        rnd = int(re.search(r"_r(\d+)\.json$", path).group(1))
        try:
            with open(path) as f:
                rows = json.load(f)
        except (OSError, ValueError):
            continue
        for name, row in rows.get("queries", rows).items():
            if (isinstance(row, dict) and row.get("rows_match")
                    and row.get("schema_match")
                    and row.get("hash_match", True) and not row.get("err")):
                last[name] = max(rnd, last.get(name, 0))
    return last


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2, least
    recently green first: entries with no green driver row, then by
    ascending last green round, ties by name. The driver checks a fixed
    number of leading entries per round, so every entry gets a row
    within ceil(len(ENTRIES) / that number) rounds."""
    last = last_green()
    order = sorted(ENTRIES, key=lambda n: (n in last, last.get(n, 0), n))
    return {name: ENTRIES[name][0] for name in order}


def oracle_sql() -> dict[str, str]:
    """DuckDB-equivalent SQL per queries() key (omitted for hash-seeded
    operators -> driver records the weaker rows-only check)."""
    return {name: sql() for name, (_fn, sql) in ENTRIES.items() if sql is not None}
