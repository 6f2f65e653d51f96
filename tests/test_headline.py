from __future__ import annotations

import pytest

import __spark_entry__ as entrymod
from radmapper_spark.session import release_memos
from tests.conftest import SF_SMOKE, persisted_rdd_ids
from tests.oracle import assert_matches_oracle

QUERY_NAMES = sorted(entrymod.queries().keys())


def test_entry_smoke(spark):
    df = entrymod.entry(spark)
    rows = df.collect()
    assert len(rows) >= 0
    assert df.columns


# Entries allowed to return 0 rows at SF_SMOKE.  Everything else must be
# non-empty: a 0=0 oracle comparison is vacuous — it greens a broken
# implementation (VERDICT r6 found ann_range_search passing that way).
#: entries allowed to be empty at sf0.001 (oracle match still runs;
#: nonvacuity is proven elsewhere): stream_crawl_to_shards' arrival-
#: order head keeps only low-doc_id pages at this SF and the NB gate
#:  happens to admit none of them (16 rows at sf0.01, exact at 3 SFs);
#: the hand-built nonzero chain lives in tests/test_stream_crawl.py::
#: test_composed_chain_nonzero_with_kill_restart.
EMPTY_OK: frozenset = frozenset({"stream_crawl_to_shards"})


@pytest.mark.parametrize("name", QUERY_NAMES)
def test_query_matches_oracle(spark, name):
    """The entry matches its oracle at sf0.001 and then leaves nothing
    persisted: once the caller releases it (rm_release_cache) and every
    memo is released, no RDD its build persisted or checkpointed may be
    left (derived state never outlives its owner; the one pass over the
    registry serves both checks)."""
    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    before = persisted_rdd_ids(spark)
    df = qs[name](spark, SF_SMOKE)
    if name in oracles:
        assert_matches_oracle(df, oracles[name], SF_SMOKE)
        if name not in EMPTY_OK:
            assert df.count() > 0, (
                f"entry '{name}' is empty at {SF_SMOKE} — the oracle match "
                f"is vacuous; re-calibrate the fixture or add to EMPTY_OK")
    else:
        assert df.count() >= 0
    df.rm_release_cache()
    release_memos()
    left = persisted_rdd_ids(spark) - before
    assert not left, f"entry '{name}' left {len(left)} persisted RDD(s)"
