from __future__ import annotations

import importlib.util
import os
import sys
from pathlib import Path

import pytest

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

from discogs_etl_spark.tables import TABLE_NAMES  # noqa: E402

TESTDATA = "/root/testdata"
SF_SMOKE = os.path.join(TESTDATA, "sf0.001")
SF_ORACLE = os.path.join(TESTDATA, "sf0.01")


def load_script(name: str):
    """Import ``scripts/{name}.py`` (or the repo-root ``{name}.py``, e.g.
    ``bench``) as a module — neither directory is a package.  Loaded once
    per process and registered in ``sys.modules`` under ``name``, so every
    caller shares one module object, also across the two imports of this
    file (pytest's ``conftest`` and the test files' ``tests.conftest``)."""
    mod = sys.modules.get(name)
    if mod is not None:
        return mod
    path = REPO / "scripts" / f"{name}.py"
    if not path.exists():
        path = REPO / f"{name}.py"
    spec = importlib.util.spec_from_file_location(name, path)
    mod = importlib.util.module_from_spec(spec)
    sys.modules[name] = mod
    try:
        spec.loader.exec_module(mod)
    except BaseException:
        del sys.modules[name]
        raise
    return mod


_PF = load_script("plan_fingerprint")


@pytest.fixture(scope="session")
def spark():
    from discogs_etl_spark.session import get_spark

    # Modest parallelism keeps test startup/shuffle overhead low at tiny SFs.
    spark = get_spark(app_name="discogs-etl-spark-tests", master="local[8]", shuffle_partitions=8)
    yield spark
    spark.stop()


@pytest.fixture(scope="session")
def w_hi():
    """Query name -> W at SF_ORACLE (plan_fingerprint.measure_work),
    filled by ``measured_collect``: the work gate's hi side, taken from
    the oracle comparison's run, so the gate adds no sf0.01 collect."""
    return {}


def measured_collect(spark, w_hi, name):
    """``(df, rows)`` of query ``name`` built and collected once at
    SF_ORACLE inside ``measure_work`` (memos and cache emptied, AQE
    off), its W stored in ``w_hi`` before the caller asserts anything.
    The one sf0.01 run of a query that both tests/test_oracle.py's
    comparison and tests/test_work_growth.py's gate read."""
    from discogs_etl_spark.registry import all_specs

    fn = all_specs()[name].fn

    def run():
        df = fn(spark, SF_ORACLE)
        return df, [tuple(r) for r in df.collect()]

    w_hi[name], (df, rows) = _PF.measure_work(spark, run)
    return df, rows


@pytest.fixture(scope="session")
def sf_lo(tmp_path_factory):
    """The work-growth gate's lo fixture: every scaling table 10x
    smaller than SF_ORACLE (scripts/plan_fingerprint.py::build_lo_fixture)."""
    return load_script("plan_fingerprint").build_lo_fixture(
        SF_SMOKE, SF_ORACLE, str(tmp_path_factory.mktemp("sf_lo"))
    )


@pytest.fixture(scope="session")
def sf_empty(tmp_path_factory):
    """Every table with zero rows, typed from SF_SMOKE's parquet footers
    (``schema.empty_table()``), so events.ts keeps its NTZ flag: a Spark
    ``limit(0)`` rewrite would drop it and test a different type."""
    import pyarrow.parquet as pq

    out = tmp_path_factory.mktemp("sf_empty")
    for t in TABLE_NAMES:
        schema = pq.read_schema(os.path.join(SF_SMOKE, f"{t}.parquet"))
        pq.write_table(schema.empty_table(), str(out / f"{t}.parquet"))
    return str(out)


@pytest.fixture(scope="session")
def duck():
    import duckdb

    con = duckdb.connect()
    for name in TABLE_NAMES:
        con.execute(
            f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{SF_ORACLE}/{name}.parquet')"
        )
    yield con
    con.close()
