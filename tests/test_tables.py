"""``tables.load``'s schema memo: a repeated load of an unchanged fixture
file reuses the schema Spark inferred for it, runs no job, and still
reads exactly what a plain ``spark.read.parquet`` reads."""

from __future__ import annotations

import os
import re
import shutil
import time

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from discogs_etl_spark import tables
from discogs_etl_spark.tables import TABLE_NAMES, load
from tests.conftest import SF_ORACLE, SF_SMOKE


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


@pytest.fixture
def nation_copy(tmp_path):
    shutil.copy(os.path.join(SF_SMOKE, "nation.parquet"), tmp_path / "nation.parquet")
    return str(tmp_path)


@pytest.mark.parametrize("sf_dir", [SF_SMOKE, SF_ORACLE], ids=["sf0.001", "sf0.01"])
@pytest.mark.parametrize("name", TABLE_NAMES)
def test_memo_hit_reads_what_a_plain_read_reads(spark, sf_dir, name):
    path = os.path.join(sf_dir, f"{name}.parquet")
    load(spark, sf_dir, name)
    st = os.stat(path)
    key = (spark.sparkContext.applicationId, path, st.st_size, st.st_mtime_ns)
    assert key in tables._SCHEMA_MEMO
    hit = tables._read(spark, path)[0]
    plain = spark.read.parquet(path)
    assert hit.schema == plain.schema
    assert _normalised_plan(hit) == _normalised_plan(plain)


def test_second_load_runs_no_job(spark, nation_copy):
    jobs = _jobs_per_group(
        spark,
        [
            ("tables-first-load", lambda: load(spark, nation_copy, "nation")),
            ("tables-second-load", lambda: load(spark, nation_copy, "nation")),
        ],
    )
    assert jobs["tables-first-load"] >= 1
    assert jobs["tables-second-load"] == 0


def test_overwritten_file_is_reinferred(spark, nation_copy):
    assert "n_extra" not in load(spark, nation_copy, "nation").columns
    path = os.path.join(nation_copy, "nation.parquet")
    t = pq.read_table(path)
    pq.write_table(t.append_column("n_extra", pa.array(range(t.num_rows), pa.int64())), path)
    jobs = _jobs_per_group(
        spark,
        [
            ("tables-reinfer", lambda: load(spark, nation_copy, "nation")),
            ("tables-rehit", lambda: load(spark, nation_copy, "nation")),
        ],
    )
    assert jobs["tables-reinfer"] >= 1
    assert jobs["tables-rehit"] == 0
    df = load(spark, nation_copy, "nation")
    assert "n_extra" in df.columns
    assert df.agg({"n_extra": "sum"}).first()[0] == sum(range(t.num_rows))


def test_directory_falls_through_unmemoized(spark, tmp_path):
    path = str(tmp_path / "nation.parquet")
    spark.range(3).withColumnRenamed("id", "n_nationkey").write.parquet(path)
    assert load(spark, str(tmp_path), "nation").count() == 3
    assert not any(k[1] == path for k in tables._SCHEMA_MEMO)


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


def test_stopped_application_entries_are_evicted(spark, nation_copy):
    path = os.path.join(nation_copy, "nation.parquet")
    stale = ("app-stopped-earlier", path, 0, 0)
    tables._SCHEMA_MEMO[stale] = (load(spark, nation_copy, "nation").schema, False)
    load(spark, nation_copy, "nation")
    assert stale not in tables._SCHEMA_MEMO
    app = spark.sparkContext.applicationId
    assert tables._SCHEMA_MEMO and all(k[0] == app for k in tables._SCHEMA_MEMO)
