"""DuckDB SQL fragments that oracles in more than one module share.

Each fragment is the one SQL text of a query core that several oracles
compose (sessionization, connected components).  The Spark side of each
core is a separate kernel in the builder's module; this module imports
nothing from Spark, so an oracle built from it stays an independent
check of the builder it grades.
"""

from __future__ import annotations

# Inactivity gap that closes a session, in seconds.  A next event exactly
# SESSION_GAP_S after the previous one stays in the same session: Spark's
# ``session_window`` keeps an event at last_event + gap in the open
# session (measured on Spark 4.1.2, batch and AvailableNow stream), and
# the batch kernel and ``sessions_sql`` split only on a strictly larger
# gap.
SESSION_GAP_S = 1800


def sessions_sql(cols: str = "") -> str:
    """The ``flagged`` and ``sess`` CTEs of gap sessionization over
    ``events``: ``sess`` holds user_id, ts, event_id, the comma-separated
    ``cols`` and session_id, the running count of session starts in
    (ts, event_id) order per user.  An event starts a session when it is
    the user's first or follows the previous one by more than
    SESSION_GAP_S seconds."""
    extra = f", {cols}" if cols else ""
    return f"""flagged AS (
            SELECT user_id, ts, event_id{extra},
                   CASE WHEN LAG(ts) OVER w IS NULL
                             OR epoch(ts) - epoch(LAG(ts) OVER w) > {SESSION_GAP_S:.1f}
                        THEN 1 ELSE 0 END AS is_new
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        ), sess AS (
            SELECT user_id, ts, event_id{extra},
                   SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS session_id
            FROM flagged
        )"""


def cc_sql(pairs_sql: str) -> str:
    """Connected components of an undirected graph as one query:
    (doc_id, component_id) for every node of the edge list ``pairs_sql``
    (a query yielding doc_a, doc_b), component_id the smallest node id
    reachable from it.  A recursive CTE closes reachability, so the cost
    grows with node count times component size: an oracle for graphs of
    fixture size, not a production algorithm.  ``pairs_sql`` may name
    CTEs of the enclosing query.

    ``pairs`` and ``edges`` are MATERIALIZED: DuckDB 1.0 inlines a CTE
    at every reference, so without it each iteration of ``reach``
    re-derived the whole pair pipeline (measured at sf0.01 on 4 vCPUs:
    the 12 oracles that compose this fragment took 75 s inlined and
    14 s materialized, with identical results)."""
    return f"""
    WITH RECURSIVE
    pairs AS MATERIALIZED ({pairs_sql}),
    edges AS MATERIALIZED (SELECT doc_a AS u, doc_b AS v FROM pairs
                           UNION SELECT doc_b, doc_a FROM pairs),
    nodes AS (SELECT DISTINCT u AS node FROM edges),
    reach(node, lbl) AS (
        SELECT node, node FROM nodes
        UNION
        SELECT e.v, r.lbl FROM reach r JOIN edges e ON e.u = r.node
    )
    SELECT node AS doc_id, MIN(lbl) AS component_id FROM reach GROUP BY node
"""
