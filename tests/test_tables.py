"""``tables.load`` reads every fixture table with its declared schema:
the same schema and optimized plan a plain ``spark.read.parquet`` gives,
no Spark job, and a loud failure when the file's columns are not the
declared ones."""

from __future__ import annotations

import os
import re
import shutil
import time

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from discogs_etl_spark.tables import TABLE_NAMES, load
from tests.conftest import REPO, SF_ORACLE, SF_SMOKE, TESTDATA


def _normalised_plan(df) -> str:
    return re.sub(r"#\d+L?", "#", df._jdf.queryExecution().optimizedPlan().toString())


def _group_jobs(spark, group: str) -> int:
    return len(spark.sparkContext.statusTracker().getJobIdsForGroup(group))


def _jobs_per_group(spark, groups_and_actions) -> dict[str, int]:
    """Run each ``(group, action)`` under its own job group, then a sentinel
    job; listener events arrive in order, so once the sentinel shows up
    every earlier group's jobs have shown up too."""
    sc = spark.sparkContext
    sentinel = f"tables-sentinel-{time.monotonic_ns()}"
    try:
        for group, action in groups_and_actions:
            sc.setJobGroup(group, group)
            action()
        sc.setJobGroup(sentinel, "sentinel")
        spark.range(2).count()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    deadline = time.monotonic() + 30
    while _group_jobs(spark, sentinel) == 0 and time.monotonic() < deadline:
        time.sleep(0.05)
    assert _group_jobs(spark, sentinel) > 0
    return {g: _group_jobs(spark, g) for g, _ in groups_and_actions}


FIXTURE_DIRS = {
    "sf0.001": SF_SMOKE,
    "sf0.01": SF_ORACLE,
    "sf0.1": os.path.join(TESTDATA, "sf0.1"),
    "perfbench-sf0.01": str(REPO / "perfbench" / "fixtures" / "sf0.01"),
    "sf_lo": None,  # session fixtures (tests/conftest.py)
    "sf_empty": None,
}


@pytest.mark.parametrize("sf_key", FIXTURE_DIRS)
@pytest.mark.parametrize("name", TABLE_NAMES)
def test_load_reads_what_a_plain_read_reads(spark, request, sf_key, name):
    sf_dir = FIXTURE_DIRS[sf_key] or request.getfixturevalue(sf_key)
    plain = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
    if name == "events":
        plain = plain.withColumn("ts", F.col("ts").cast("timestamp"))
    declared = load(spark, sf_dir, name)
    assert declared.schema == plain.schema
    assert _normalised_plan(declared) == _normalised_plan(plain)


def test_first_load_runs_no_job(spark, tmp_path):
    for t in TABLE_NAMES:
        shutil.copy(os.path.join(SF_SMOKE, f"{t}.parquet"), tmp_path / f"{t}.parquet")
    groups = [(f"tables-load-{t}", lambda t=t: load(spark, str(tmp_path), t)) for t in TABLE_NAMES]
    plain = ("tables-plain-read", lambda: spark.read.parquet(str(tmp_path / "nation.parquet")))
    jobs = _jobs_per_group(spark, [*groups, plain])
    assert jobs.pop("tables-plain-read") >= 1  # the counter sees an inference job
    assert jobs == {g: 0 for g, _ in groups}


@pytest.mark.parametrize("change", ["missing", "extra"])
def test_undeclared_footer_columns_raise_before_any_job(spark, tmp_path, change):
    t = pq.read_table(os.path.join(SF_SMOKE, "nation.parquet"))
    if change == "missing":
        t, col = t.drop_columns(["n_regionkey"]), "n_regionkey"
    else:
        t, col = t.append_column("n_extra", pa.array(range(t.num_rows), pa.int64())), "n_extra"
    pq.write_table(t, str(tmp_path / "nation.parquet"))

    def attempt():
        with pytest.raises(ValueError, match=rf"'nation'.*{change} columns \['{col}'\]"):
            load(spark, str(tmp_path), "nation")

    assert _jobs_per_group(spark, [("tables-undeclared", attempt)]) == {"tables-undeclared": 0}


def test_self_join_of_two_loads_resolves(spark, duck):
    a = load(spark, SF_ORACLE, "nation").alias("a")
    b = load(spark, SF_ORACLE, "nation").alias("b")
    n = a.join(
        b,
        (a["n_regionkey"] == b["n_regionkey"]) & (a["n_nationkey"] < b["n_nationkey"]),
    ).count()
    (expected,) = duck.execute(
        "SELECT count(*) FROM nation a JOIN nation b "
        "ON a.n_regionkey = b.n_regionkey AND a.n_nationkey < b.n_nationkey"
    ).fetchone()
    assert n == expected > 0
