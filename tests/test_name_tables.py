"""Every hand-kept table of query names names a registered query.

``bench.py`` indexes ``QUERIES[name]``, so a stale name in its tiers
fails the run instead of silently shrinking the headline; this test
catches such a name without starting a Spark session.
"""

from __future__ import annotations

import pytest

import bench
from local_stream_stack_spark.queries import QUERIES, registry

TABLES = {
    "bench.HEADLINE": bench.HEADLINE,
    "bench.EXTENDED": bench.EXTENDED,
    "bench.GATE": bench.GATE,
    "bench.GATE_V3": bench.GATE_V3,
    "registry.DRIVER_VERIFIED_PREVIOUSLY": registry.DRIVER_VERIFIED_PREVIOUSLY,
    "registry.NEW_THIS_ROUND": registry.NEW_THIS_ROUND,
    "registry.CHANGED_SINCE_GREEN": registry.CHANGED_SINCE_GREEN,
}


@pytest.mark.parametrize("table", TABLES)
def test_name_table_lists_only_registered_queries(table):
    assert sorted(set(TABLES[table]) - set(QUERIES)) == [], table
