"""Census of every entry query: which ones leave session state behind.

Each ``__spark_entry__.queries()`` entry is built and collected at
sf0.001 in a session with no cached plan and no persistent RDD; the
census records the queries after which the session's CacheManager
holds a plan or ``getPersistentRDDs()`` is non-empty. The pinned set is
the known debt; a query joining it means a new cache outlives its call,
and a query leaving it should shrink the pin in the same change.

The harness runs all queries once (about 90 s on a 4-core host), so
other per-query properties (for example Spark jobs started while a
query is built) can be counted in the same loop.
"""

from __future__ import annotations

# the remaining debt: a cache that is never unpersisted, and one
# query-level localCheckpoint
LEAVES_SESSION_STATE = {
    "versioned_json_documents",  # migrations.py cache()
    "winnow_fingerprints_documents",  # the query's localCheckpoint()
}


def test_queries_that_leave_session_state(spark, session_state):
    import __spark_entry__ as entry

    queries = entry.queries()
    assert len(queries) == 77
    leaves = set()
    for name, build in queries.items():
        session_state.clear()
        build(spark, entry.SF_SMOKE).collect()
        if session_state.held() != ([], False):
            leaves.add(name)
    session_state.clear()
    assert leaves == LEAVES_SESSION_STATE
