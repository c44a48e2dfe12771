"""Local replica of the driver's DuckDB-oracle correctness gate.

For every registered query with an oracle: run the Spark plan and the
DuckDB SQL at sf0.01, then compare row count, column names, and an
order-insensitive canonical value multiset (the moral equivalent of the
driver's value hash).  Exact equality — no tolerances — because the query
builders are written to be bit-deterministic (see registry.py).

Each query is built and collected ONCE at sf0.01, inside the work gate's
``measure_work`` (tests/conftest.py::measured_collect: session memos and
cache emptied, adaptive execution off).  That one collect gives both the
rows compared here and the gate's W at sf0.01, which
tests/test_work_growth.py reads.  The same built DataFrame feeds the
registry-wide nested-loop audit (scripts/plan_fingerprint.py: ALLOWED,
nested_loop_counts) through a fresh plan under the session's own
settings (AQE on), so every registered query's static plan is checked
on every run, at no extra build cost.

Three checks run with AQE on, as the driver runs: the replay of the
driver's first 50 queries through scripts/oracle_check.py (values),
tests/test_plans.py's PLAN_PINS (AQE-final plans, no values), and
tests/test_empty_inputs.py (every query on zero-row inputs, no values).
A memo hit is checked against its miss by ``test_memo_hit_matches_miss``.
"""

from __future__ import annotations

import math
import subprocess
import sys

import pytest
from pyspark.sql import functions as F

from discogs_etl_spark.registry import all_specs
from tests.conftest import REPO, SF_ORACLE, SF_SMOKE, load_script, measured_collect

_PF = load_script("plan_fingerprint")


class DriverHasherHazard(AssertionError):
    """A cell type the DRIVER's value-hasher mishandles reached a result.

    The driver is stricter than a value-normalizing comparison: Decimal
    (DuckDB HUGEINT → decimal128) hashes differently from int64 even for
    equal values, raw booleans round-trip differently across engines, and
    list cells crash its pandas canonicalizer outright (unhashable).  The
    local harness therefore FAILS on these types instead of normalizing,
    so local green predicts driver green.  Queries must emit BIGINT/INT
    casts and scalar (joined-string or exploded) cells instead.
    """


def canon_cell(v):
    """Canonical string for one cell, identical for equal logical values
    across engine-native widths (int32/int64, numpy scalars, date/datetime).
    Raises DriverHasherHazard on Decimal / bool / list cells — see above."""
    import datetime
    import decimal

    import numpy as np

    if v is None:
        return "∅"
    if isinstance(v, (bool, np.bool_)):
        raise DriverHasherHazard(
            "boolean result cell — cast to INT on both sides (driver-hash unsafe)"
        )
    if isinstance(v, (int, np.integer)):
        return str(int(v))
    if isinstance(v, decimal.Decimal):
        raise DriverHasherHazard(
            "Decimal result cell (DuckDB HUGEINT/DECIMAL?) — CAST to BIGINT/DOUBLE "
            "in the oracle (driver hashes decimal128 differently from int64)"
        )
    if isinstance(v, (float, np.floating)):
        f = float(v)
        if math.isnan(f):
            return "nan"
        return repr(f)
    if isinstance(v, datetime.datetime):
        return v.replace(tzinfo=None).isoformat()
    if isinstance(v, datetime.date):
        return v.isoformat()
    if isinstance(v, (list, tuple, np.ndarray)):
        raise DriverHasherHazard(
            "array result cell — unhashable in the driver's canonicalizer; "
            "emit array_join(...) or posexplode instead"
        )
    if isinstance(v, bytes):
        return v.hex()
    return str(v)


def canon_rows(cols, rows):
    """Order-insensitive canonical form: sort columns by name, then rows."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = ["|".join(canon_cell(r[i]) for i in order) for r in rows]
    out.sort()
    return [c for c in sorted(cols)], out


def assert_nested_loops_audited(name, df):
    """The plan's conditioned nested loops must EQUAL the query's audited
    allowance (0 if unlisted) — a new unaudited loop and a stale
    allowance both fail here — and it must hold no CartesianProduct."""
    conditioned, cartesian = _PF.nested_loop_counts(df)
    cap = _PF.ALLOWED.get(name, (0, ""))[0]
    assert conditioned == cap, (
        f"{name}: {conditioned} conditioned nested loop(s), audited "
        f"allowance {cap} — rewrite the join onto hash keys, or (only for "
        "a build side with a written size bound) edit plan_fingerprint.ALLOWED"
    )
    assert cartesian == 0, f"{name}: {cartesian} CartesianProduct node(s)"


def test_nested_loop_audit_is_exact(spark):
    """The allowance is an exact count, not a cap: a conditioned nested
    loop in an unlisted query fails, and so does an ALLOWED query whose
    loop has been rewritten away (the stale allowance would otherwise
    let a future reintroduction pass silently)."""
    a = spark.range(8).select(F.col("id").alias("x"))
    b = spark.range(8).select(F.col("id").alias("u"))
    looped = a.join(b, (a.x == b.u) | (a.x + 1 == b.u))
    assert_nested_loops_audited("join_range_band_pricing", looped)
    with pytest.raises(AssertionError, match="allowance 0"):
        assert_nested_loops_audited("q1_pricing_summary", looped)
    with pytest.raises(AssertionError, match="allowance 1"):
        assert_nested_loops_audited("join_range_band_pricing", a.join(b, a.x == b.u))


ORACLE_SPECS = all_specs()


@pytest.mark.parametrize("name", sorted(ORACLE_SPECS))
def test_query_matches_oracle(spark, duck, w_hi, name):
    sdf, srows = measured_collect(spark, w_hi, name)
    # A fresh plan of the built frame, so the audit reads the static plan
    # the session's own settings choose (AQE on), not the AQE-off one the
    # measured collect ran: with AQE off, stats_psi_value_drift's two
    # compared sides share one reused subtree and plan one loop, not two.
    assert_nested_loops_audited(name, sdf.select("*"))
    scols = sdf.columns

    res = duck.execute(ORACLE_SPECS[name].oracle)
    dcols = [d[0] for d in res.description]
    drows = res.fetchall()

    assert sorted(scols) == sorted(dcols), f"{name}: column sets differ"
    assert len(srows) == len(drows), f"{name}: row counts differ ({len(srows)} vs {len(drows)})"

    _, s_canon = canon_rows(scols, srows)
    _, d_canon = canon_rows(dcols, drows)
    mism = [(a, b) for a, b in zip(s_canon, d_canon) if a != b]
    assert s_canon == d_canon, (
        f"{name}: value mismatch; first diffs: {mism[:3]}"
    )


# One consumer per session_memo family: the pair graph, the postings and
# the co-order edges.
@pytest.mark.parametrize(
    "name", ["dedup_connected_components", "text_search_inverted_topk", "graph_pagerank_coorder"]
)
def test_memo_hit_matches_miss(spark, name):
    """The measured oracle run empties the session memos before every
    query, so it compares only memo misses with the oracles.  A memo hit
    must return the rows of the miss that built the memo."""
    from discogs_etl_spark.queries._util import _SESSION_MEMOS, clear_session_memos

    fn = ORACLE_SPECS[name].fn

    def memos():
        return [df for cache in _SESSION_MEMOS for df in cache.values()]

    def rows(df):
        return canon_rows(df.columns, [tuple(r) for r in df.collect()])

    clear_session_memos()
    assert memos() == []
    miss = rows(fn(spark, SF_SMOKE))
    built = memos()
    assert built, f"{name}: the first build memoized nothing"
    hit = rows(fn(spark, SF_SMOKE))
    assert list(map(id, memos())) == list(map(id, built)), (
        f"{name}: the second build did not read the memo"
    )
    assert hit == miss


def test_entry_smoke(spark):
    import __spark_entry__ as e

    df = e.entry(spark)
    assert df.count() >= 0
    assert set(e.oracle_sql()).issubset(set(e.queries()))


HAZARD_DUCK_TYPES = ("HUGEINT", "UHUGEINT", "DECIMAL", "BOOLEAN")


@pytest.mark.parametrize("name", sorted(ORACLE_SPECS))
def test_oracle_schema_driver_hash_safe(duck, name):
    """Every oracle's RESULT TYPES must be driver-hasher safe — DuckDB
    silently widens SUM(BIGINT) to HUGEINT (arrow decimal128), which the
    driver's pandas canonicalizer hashes differently from Spark's int64
    even for equal values.  DESCRIBE exposes the types without executing
    the query, so this guards all ~200 oracles in seconds."""
    desc = duck.execute(f"DESCRIBE {ORACLE_SPECS[name].oracle}").fetchall()
    offenders = [
        (col, typ)
        for col, typ, *_ in desc
        if any(typ.startswith(h) for h in HAZARD_DUCK_TYPES)
    ]
    assert not offenders, (
        f"{name}: oracle emits driver-hash-unsafe types {offenders}; "
        "CAST to BIGINT/DOUBLE/INT in the oracle SQL"
    )


def test_oracle_check_replays_a_query():
    """scripts/oracle_check.py end to end on the driver's own check: the
    first 50 registered queries at sf0.01 in a plain session, so with
    AQE on — the suite's value check of the driver's setting, which the
    measured AQE-off collect above does not run.  The script builds and
    stops its own session, so it runs in a subprocess."""
    names = list(all_specs())[:50]
    out = subprocess.run(
        [sys.executable, "scripts/oracle_check.py", "--sf-dirs", SF_ORACLE, *names],
        cwd=REPO,
        capture_output=True,
        text=True,
        timeout=1200,
    )
    assert out.returncode == 0, out.stdout + out.stderr[-5000:]
    ok = [line.split()[:3] for line in out.stdout.splitlines() if line.startswith("OK")]
    assert ok == [["OK", "sf0.01", n] for n in names], out.stdout
