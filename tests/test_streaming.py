"""Structured Streaming veneer tests (SURVEY.md §2.10).

The oracle harness (tests/test_oracle.py) already checks the three
streaming queries value-for-value against DuckDB; these tests pin the
STREAMING-specific behavior: the plans really are streaming (not batch in
disguise) and AvailableNow drains to completion.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from discogs_etl_spark.streaming.events import read_events_stream

SF_DIR = "/root/testdata/sf0.001"


def test_events_stream_is_streaming(spark):
    df = read_events_stream(spark, SF_DIR)
    assert df.isStreaming
    # fixtures store TIMESTAMP(MICROS) isAdjustedToUTC=false → read as
    # NTZ, then normalized to TIMESTAMP (watermark-compatible; identity
    # under the UTC session) to match the batch loader's view
    assert dict(df.dtypes)["ts"] == "timestamp"


def test_stream_hourly_matches_batch(spark):
    from discogs_etl_spark.registry import queries
    from discogs_etl_spark.tables import load

    got = queries()["stream_events_hourly"](spark, SF_DIR)
    assert not got.isStreaming
    batch = (
        load(spark, SF_DIR, "events")
        .groupBy(F.date_trunc("hour", "ts").alias("hour_start"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"))
    )
    got_counts = {
        (r["hour_start"], r["event_type"]): r["n_events"] for r in got.collect()
    }
    batch_counts = {
        (r["hour_start"], r["event_type"]): r["n_events"] for r in batch.collect()
    }
    assert got_counts == batch_counts


def test_stream_stateful_counts(spark):
    from discogs_etl_spark.registry import queries
    from discogs_etl_spark.tables import load

    got = queries()["stream_stateful_user_stats"](spark, SF_DIR)
    per_user = {r["user_id"]: r["n_events"] for r in got.collect()}
    expected = {
        r["user_id"]: r["n"]
        for r in load(spark, SF_DIR, "events")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert per_user == expected


def test_checkpointed_incremental_arrival(spark, tmp_path):
    """The incremental monthly-arrival model (SURVEY §1.1, §2.10): with a
    checkpoint, a re-run after new files land processes ONLY the new
    arrivals — file-source progress is durable."""
    import os

    from pyspark.sql import functions as F

    from discogs_etl_spark.streaming.events import run_stream_to_parquet
    from discogs_etl_spark.tables import SCHEMAS

    landing = tmp_path / "landing"
    landing.mkdir()
    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "out")
    os.symlink("/root/testdata/sf0.001/events.parquet", landing / "month1.parquet")

    def passthrough():
        raw = (
            spark.readStream.schema(SCHEMAS["events"])
            .format("parquet")
            .load(str(landing))
        )
        return raw.select("event_id")

    run_stream_to_parquet(passthrough(), out, ckpt)
    assert spark.read.parquet(out).count() == 1000  # sf0.001 events rows

    # second dump lands; same checkpoint → only the new file is processed
    os.symlink("/root/testdata/sf0.01/events.parquet", landing / "month2.parquet")
    run_stream_to_parquet(passthrough(), out, ckpt)
    # 1000 + 10000, NOT 1000 + 11000: month1 was not reprocessed
    assert spark.read.parquet(out).count() == 11000


def test_stream_events_to_partitioned_lake(spark, tmp_path):
    """Streaming → partitioned lake: event-time partitions materialize,
    pruning works, rerun with same checkpoint adds nothing new."""
    from pyspark.sql import functions as F

    from discogs_etl_spark.streaming.events import stream_events_to_lake

    lake = str(tmp_path / "lake")
    ckpt = str(tmp_path / "ckpt")
    out = stream_events_to_lake(spark, SF_DIR, lake, ckpt)

    spark.conf.set("spark.sql.sources.partitionColumnTypeInference.enabled", "false")
    try:
        back = spark.read.parquet(out)
    finally:
        spark.conf.set("spark.sql.sources.partitionColumnTypeInference.enabled", "true")
    assert back.count() == 1000
    assert {"year", "month"}.issubset(set(back.columns))
    jan = back.where(F.col("month") == "01").count()
    assert jan > 0

    # no new files landed → second drain is a no-op
    stream_events_to_lake(spark, SF_DIR, lake, ckpt)
    assert spark.read.parquet(out).count() == 1000


def test_stream_upsert_to_lake_replaces_by_key(spark, tmp_path):
    """foreachBatch MERGE: the stream's rows land keyed by event_id; a
    pre-seeded stale version of an event is REPLACED (not duplicated) in
    its monthly partition, and untouched partitions/rows survive."""
    from pyspark.sql import functions as F

    from discogs_etl_spark.lake import read_lake, write_lake
    from discogs_etl_spark.streaming.events import stream_upsert_to_lake
    from discogs_etl_spark.tables import load

    lake = str(tmp_path / "lake")
    ckpt = str(tmp_path / "ckpt")

    # Seed the lake with a STALE copy of one January event (value bumped)
    # plus one synthetic event absent from the stream (must survive).
    ev = load(spark, SF_DIR, "events")
    jan = ev.where(F.date_format("ts", "MM") == "01")
    y = jan.select(F.year("ts").alias("y")).first()["y"]
    stale = jan.limit(1).withColumn("value", F.lit(-999.0))
    keeper = jan.limit(1).select(
        (F.col("event_id") + 10_000_000).alias("event_id"),
        "ts", "user_id", "event_type", F.lit(123.0).alias("value"), "props",
    )
    write_lake(stale.unionByName(keeper), lake, "event", y, "01")

    out = stream_upsert_to_lake(spark, SF_DIR, lake, ckpt)
    back = read_lake(spark, lake, "event")

    # every streamed event present exactly once
    assert back.where(F.col("event_id") < 10_000_000).count() == ev.count()
    # the stale value was replaced by the stream's version
    stale_id = stale.first()["event_id"]
    vals = [r["value"] for r in back.where(F.col("event_id") == stale_id).collect()]
    assert len(vals) == 1 and vals[0] != -999.0
    # the out-of-stream row survived the merge
    assert back.where(F.col("event_id") == 10_000_000 + stale_id).count() == 1


def test_transform_with_state_gated_or_works(spark):
    """The modern typed-state API (transformWithStateInPandas) is
    environment-gated on protobuf in this container; when the dependency
    is present the operator must produce the same per-user aggregates as
    batch."""
    import pytest

    from discogs_etl_spark.streaming.events import (
        stream_transform_with_state,
        transform_with_state_available,
    )

    if not transform_with_state_available():
        pytest.skip("google.protobuf broken in container — TWS driver worker cannot start")
    got = stream_transform_with_state(spark, SF_DIR)
    from discogs_etl_spark.tables import load

    expected = (
        load(spark, SF_DIR, "events")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    got_n = {r["user_id"]: r["n_events"] for r in got.collect()}
    exp_n = {r["user_id"]: r["n"] for r in expected.collect()}
    assert got_n == exp_n


def _boundary_events(out_dir):
    """An events.parquet with the fixture's schema and the session
    boundaries the fixtures never hold: a gap of exactly SESSION_GAP_S,
    one of SESSION_GAP_S + 1 µs, a (user_id, ts) tie that event_id
    orders, and a single-event user."""
    import datetime

    import pyarrow as pa
    import pyarrow.parquet as pq

    from discogs_etl_spark.queries._oracle_sql import SESSION_GAP_S

    t0 = datetime.datetime(2024, 1, 1)
    gap = datetime.timedelta(seconds=SESSION_GAP_S)
    us = datetime.timedelta(microseconds=1)
    rows = [  # (event_id, ts, user_id, value)
        (10, t0, 1, 1.25),
        (12, t0 + gap, 1, 2.5),  # exactly the gap: same session
        (14, t0 + 2 * gap + us, 1, 4.0),  # gap + 1 µs: new session
        (13, t0 + 2 * gap + us, 1, 8.75),  # tie, ordered by event_id
        (20, t0 + gap, 2, 16.0),  # the user's only event
        (31, t0 + 3 * gap, 3, 0.5),
        (30, t0 + 3 * gap, 3, 0.25),  # tie at a session start
        (32, t0 + 4 * gap, 3, 1.0),  # exactly the gap after the tie
    ]
    table = pa.table(
        {
            "event_id": pa.array([r[0] for r in rows], pa.int64()),
            "ts": pa.array([r[1] for r in rows], pa.timestamp("us")),
            "user_id": pa.array([r[2] for r in rows], pa.int64()),
            "event_type": pa.array(["view"] * len(rows), pa.string()),
            "value": pa.array([r[3] for r in rows], pa.float64()),
            "props": pa.array(["{}"] * len(rows), pa.string()),
        }
    )
    fixture = pq.read_schema(f"{SF_DIR}/events.parquet")
    assert table.schema.remove_metadata() == fixture.remove_metadata()
    pq.write_table(table, str(out_dir / "events.parquet"))
    return str(out_dir)


def test_session_boundaries_agree(spark, tmp_path):
    """Sessionization on the boundaries the fixtures never hold (no gap
    between a user's events is exactly 1800 s at any sf): the batch and
    stream queries equal their registered oracles, the batch kernel
    equals ``F.session_window``, and so does the shared SQL fragment.  A
    gap of exactly SESSION_GAP_S keeps one session in Spark's
    ``session_window``; the 1 µs longer gap splits."""
    import duckdb

    from discogs_etl_spark.queries._oracle_sql import SESSION_GAP_S, sessions_sql
    from discogs_etl_spark.queries.analytics import _sessionize
    from discogs_etl_spark.registry import all_specs
    from discogs_etl_spark.tables import load
    from tests.test_oracle import canon_rows

    sf = _boundary_events(tmp_path)
    con = duckdb.connect()
    con.execute(f"CREATE VIEW events AS SELECT * FROM read_parquet('{sf}/events.parquet')")
    specs = all_specs()
    for name in ("sessionization_events", "stream_session_window"):
        got = specs[name].fn(spark, sf)
        res = con.execute(specs[name].oracle)
        want_cols = [d[0] for d in res.description]
        assert canon_rows(got.columns, [tuple(r) for r in got.collect()]) == canon_rows(
            want_cols, res.fetchall()
        ), name

    events = load(spark, sf, "events")
    bounds = [
        F.unix_micros(F.min("ts")).alias("start_us"),
        F.unix_micros(F.max("ts")).alias("end_us"),
        F.count(F.lit(1)).alias("n"),
    ]
    kernel = _sessionize(events).groupBy("user_id", "session_id").agg(*bounds)
    window = events.groupBy(
        F.session_window("ts", f"{SESSION_GAP_S // 60} minutes"), "user_id"
    ).agg(*bounds)
    cols = ["user_id", "start_us", "end_us", "n"]
    spark_sessions = sorted(tuple(r) for r in kernel.select(cols).collect())
    assert spark_sessions == sorted(tuple(r) for r in window.select(cols).collect())
    sql_sessions = con.execute(
        f"""WITH {sessions_sql()}
            SELECT user_id, epoch_us(MIN(ts)), epoch_us(MAX(ts)), COUNT(*)
            FROM sess GROUP BY user_id, session_id"""
    ).fetchall()
    assert spark_sessions == sorted(sql_sessions)
    # user 1: {10, 12}, {13, 14}; user 2: {20}; user 3: {30, 31, 32}
    assert [s[3] for s in spark_sessions] == [2, 2, 1, 3]
