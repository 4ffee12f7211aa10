"""Iterative DuckDB connected-components oracle (q38/q39 fast path).

The registered ``oracle_sql`` for q38/q39 is a recursive-CTE transitive
closure — fine at the driver's sf0.01 (seconds) but O(sum of reachable
sets) in the recursion: ~17 minutes per query at sf1 and unusable at
sf10. This module is the oracle-side twin of
``operators/components.py``: the same min-label propagation with path
halving, expressed as a DuckDB temp-table loop — O(log diameter)
rounds of cheap hash joins instead of the closure blow-up.

``tools/check_correctness.py`` uses a query's ``oracle_py`` override
(registry.QueryDef.oracle_py) when present; the driver keeps running
the pure-SQL oracle at sf0.01, which certifies the two formulations
agree (the gate also cross-checks them at sf0.01 —
tests/test_cc_oracle.py asserts sql-vs-py hash equality directly).
"""

from __future__ import annotations

# labels tables already materialized on a connection, keyed by
# (connection id, pairs SQL) — q38 and q39 share the same near-dup
# graph, so the second query reuses the first's converged labels.
#
# Cache-validity contract (round-5 ADVICE): id(con) can be REUSED by a
# new connection after the old one is GC'd, so a hit is trusted only
# after probing that _cc_labels actually exists on THIS connection
# (cheap `LIMIT 0`); a probe failure falls through to a rebuild. Within
# one connection the cache assumes same-SQL => same data — callers that
# re-register the testdata views over different files on a live
# connection must call ``clear_cc_cache()`` (e.g. between scale
# factors).
_CC_CACHE: dict[tuple[int, str], str] = {}


def clear_cc_cache() -> None:
    """Drop all cached label-table entries (call after re-registering
    the testdata views over different data on a live connection)."""
    _CC_CACHE.clear()


# Converged labels persisted across PROCESSES (round-9 VERDICT item 3):
# the oracle-side clustering of a large corpus is the one genuinely
# expensive piece of every CC-family oracle (pairs + label propagation:
# 127 s at sf1, past the 900 s gate watchdog at sf10), and it is a pure
# function of (corpus file, pair-graph SQL) — so the gate's oracle can
# PROBE PREBUILT ORACLE STATE instead of re-clustering per run, exactly
# mirroring the engine's own q81/q107 incremental posture. The cache is
# DuckDB-computed only (never written from Spark results), keyed by the
# documents parquet's path+size+mtime AND the pairs SQL, so any change
# to data or formulation rebuilds. tools/build_cc_oracle_cache.py
# prebuilds it outside the watchdog. With the cache warm a CC-family
# oracle is a parquet read, so its wall says nothing of the clustering
# cost; time that against a fresh state dir ($SPARK_GRAFT_ARTIFACTS).
_DISK_CACHE_ROOT = None  # None = the artifacts state dir; tests override


def _disk_cache_root() -> str:
    from etl_transparencia_sergipe_spark.operators.quantizer_store import (
        state_dir,
    )

    return _DISK_CACHE_ROOT or str(state_dir("cc_oracle_cache"))


def docs_cache_tag(con, pairs_sql: str, view: str = "documents") -> str | None:
    """Disk-cache tag for a converged label table: identity of the
    parquet file behind the registered ``view`` (path + size + mtime)
    plus the pair-graph SQL. None (= no disk caching) when the view is
    not a plain single-file read_parquet."""
    import hashlib
    import os
    import re

    try:
        row = con.execute(
            "SELECT sql FROM duckdb_views() WHERE view_name = ?",
            [view]).fetchone()
    except Exception:
        return None
    if not row or not row[0]:
        return None
    m = re.search(r"read_parquet\('([^']+)'\)", row[0])
    if not m:
        return None
    try:
        st = os.stat(m.group(1))
    except OSError:
        return None
    raw = f"{m.group(1)}|{st.st_size}|{int(st.st_mtime)}|{pairs_sql}"
    return hashlib.sha256(raw.encode()).hexdigest()[:24]


def cc_labels_duck(con, pairs_sql: str, max_iter: int = 64,
                   disk_tag: str | None = None) -> str:
    """Materialize DataFrame[node, component] for the pair graph.

    Returns the temp-table name holding the converged labels. Mirrors
    operators/components.connected_components: per round, (1) each node
    takes the min label over itself and its neighbors, (2) path halving
    follows component -> component-of-component, so label reach doubles
    per round and a diameter-D graph converges in O(log D) rounds.

    ``disk_tag`` (from :func:`docs_cache_tag`): probe/persist the
    converged labels under <state dir>/cc_oracle_cache/<tag>.parquet so
    repeat gate runs skip the build entirely.
    """
    import os

    key = (id(con), pairs_sql)
    if key in _CC_CACHE:
        try:
            con.execute("SELECT 1 FROM _cc_labels LIMIT 0")
            return _CC_CACHE[key]
        except Exception:
            # id(con) collision with a GC'd connection: table missing
            del _CC_CACHE[key]
    # rebuilding/reloading overwrites the shared temp tables — drop any
    # stale cache entries for this connection (different pairs_sql)
    for k in [k for k in _CC_CACHE if k[0] == id(con)]:
        del _CC_CACHE[k]

    disk_path = (os.path.join(_disk_cache_root(), f"{disk_tag}.parquet")
                 if disk_tag else None)
    if disk_path and os.path.exists(disk_path):
        con.execute(f"CREATE OR REPLACE TEMP TABLE _cc_labels AS "
                    f"SELECT * FROM read_parquet('{disk_path}')")
        _CC_CACHE[key] = "_cc_labels"
        return "_cc_labels"

    con.execute(f"""
        CREATE OR REPLACE TEMP TABLE _cc_edges AS
        WITH pairs AS ({pairs_sql})
        SELECT id_a AS src, id_b AS dst FROM pairs
        UNION
        SELECT id_b, id_a FROM pairs
    """)
    con.execute("""
        CREATE OR REPLACE TEMP TABLE _cc_labels AS
        SELECT DISTINCT src AS node, src AS component FROM _cc_edges
    """)
    for _ in range(max_iter):
        # hop 1: min over own label and neighbors' labels
        con.execute("""
            CREATE OR REPLACE TEMP TABLE _cc_hop AS
            SELECT l.node,
                   LEAST(l.component,
                         COALESCE(MIN(nl.component), l.component))
                       AS component
            FROM _cc_labels l
            LEFT JOIN _cc_edges e ON e.src = l.node
            LEFT JOIN _cc_labels nl ON nl.node = e.dst
            GROUP BY l.node, l.component
        """)
        # path halving: component := label of my component
        con.execute("""
            CREATE OR REPLACE TEMP TABLE _cc_next AS
            SELECT h.node,
                   LEAST(h.component,
                         COALESCE(p.component, h.component)) AS component
            FROM _cc_hop h
            LEFT JOIN _cc_hop p ON p.node = h.component
        """)
        changed = con.execute("""
            SELECT count(*) FROM _cc_next n
            JOIN _cc_labels l ON l.node = n.node
            WHERE l.component <> n.component
        """).fetchone()[0]
        con.execute("CREATE OR REPLACE TEMP TABLE _cc_labels AS "
                    "SELECT * FROM _cc_next")
        if changed == 0:
            _CC_CACHE[key] = "_cc_labels"
            if disk_path:
                os.makedirs(_disk_cache_root(), exist_ok=True)
                tmp = disk_path + ".tmp"
                con.execute(
                    f"COPY _cc_labels TO '{tmp}' (FORMAT PARQUET)")
                os.replace(tmp, disk_path)  # atomic publish
            return "_cc_labels"
    raise RuntimeError(
        f"cc oracle did not converge in {max_iter} rounds")
