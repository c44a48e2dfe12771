"""Structured Streaming veneer (SURVEY.md §2.10, §7.2 phase 7).

The reference has no unbounded processing — its "streaming" is bounded byte
pipelines (reference io.py:23-144, process.py:22-45), and its monthly-dump
loop (reference run.py:28-41) is batch orchestration.  This module is the
additive capability the engine contract asks for: the same event analytics
the batch plane runs (events_hourly_agg, sessionization_events), expressed
as Structured Streaming jobs over a file source, processed with
``Trigger.AvailableNow`` — exactly how incremental monthly dump arrivals
would be consumed at scale (new files land, the trigger drains them, state
is checkpointed, the job exits).

Design choices:

- **File source + AvailableNow**: unbounded source framework, bounded run.
  On a cluster the same code tails a landing prefix; checkpointing makes
  re-runs incremental.
- **Complete output mode** for the windowed/session aggregations: with a
  single AvailableNow batch a watermark never advances far enough for
  append mode to emit final windows — the classic one-batch pitfall.
  Watermarks are still declared so the identical query runs unbounded with
  bounded state (append mode + late-data drop) in production; complete
  mode here only changes WHEN results surface, not their values.
- **Memory sink** for the driver contract: streams cannot be returned as
  plain DataFrames, so each registered query runs the stream to
  completion and returns the sink table — batch/oracle comparable.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from discogs_etl_spark.queries._oracle_sql import SESSION_GAP_S, sessions_sql
from discogs_etl_spark.queries._util import dec
from discogs_etl_spark.registry import register
from discogs_etl_spark.session import local_frame, scoped_conf
from discogs_etl_spark.tables import SCHEMAS


def _landing_dir(sf_dir: str) -> str:
    """The file stream source tails a DIRECTORY (a landing prefix, in
    production).  The fixtures are single read-only files, so stage a
    symlink into a temp landing dir — zero-copy, and new symlinked files
    would be discovered incrementally just like real arrivals."""
    import os
    import tempfile

    d = os.path.join(
        tempfile.gettempdir(),
        "discogs_etl_spark_landing",
        sf_dir.strip("/").replace("/", "_"),
    )
    os.makedirs(d, exist_ok=True)
    link = os.path.join(d, "events.parquet")
    # lexists (not exists): a dangling leftover symlink from a previous
    # session would otherwise pass the not-exists check and make symlink()
    # raise FileExistsError.  Recreating unconditionally is idempotent.
    if os.path.lexists(link):
        os.unlink(link)
    os.symlink(os.path.join(sf_dir, "events.parquet"), link)
    return d


def read_events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unbounded read of the events table: file-source stream over a
    landing directory, one file = one input split (new files are picked
    up incrementally on a real landing prefix)."""
    raw = (
        spark.readStream.schema(SCHEMAS["events"])
        .format("parquet")
        .load(_landing_dir(sf_dir))
    )
    # Watermarks/event-time windows require TIMESTAMP (Spark rejects NTZ
    # event-time columns).  Under the UTC-pinned session the cast is a
    # pure reinterpretation — wall-clock values are unchanged, and the
    # batch loader applies the same cast so both planes agree.
    return raw.withColumn("ts", F.col("ts").cast("timestamp"))


def run_stream_to_table(
    df: DataFrame, name: str, output_mode: str, checkpoint: str | None = None
) -> DataFrame:
    """Drain a streaming DataFrame with Trigger.AvailableNow into a memory
    sink and return the sink's contents as a batch DataFrame.

    With ``checkpoint`` set, source progress (processed files, state
    stores) persists across invocations — re-running after new files land
    processes ONLY the new arrivals, which is the incremental
    monthly-dump consumption model (SURVEY.md §1.1)."""
    w = (
        df.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
    )
    if checkpoint is not None:
        w = w.option("checkpointLocation", checkpoint)
    q = w.start()
    q.awaitTermination()
    return df.sparkSession.table(name)


def run_stream_to_parquet(df: DataFrame, path: str, checkpoint: str) -> None:
    """Durable sink: drain to parquet with a checkpoint.  The memory sink
    cannot recover from checkpoints (Spark restriction), so incremental
    across-run consumption — process only files that landed since the
    last run, the monthly-dump model of SURVEY.md §1.1 — goes through a
    file sink; exactly-once is the sink's manifest + source offsets."""
    q = (
        df.writeStream.format("parquet")
        .option("path", path)
        .option("checkpointLocation", checkpoint)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def _ntz_out(df: DataFrame, *cols: str) -> DataFrame:
    """Cast RETURNED timestamp columns to TIMESTAMP_NTZ (r7 TZ audit
    hardening).  Collected ``TimestampType`` cells render through the
    PYTHON PROCESS timezone (``datetime.fromtimestamp``), so a non-UTC
    driver process would shift wall clocks the DuckDB oracle does not
    shift; ``TimestampNTZType`` collects the session-TZ wall clock as a
    naive datetime regardless of process zone.  Under the UTC-pinned
    session the cast is value-identical to what a UTC process collected
    before, so oracle hashes do not move.  Applied to the DRAINED batch
    result, after the memory sink — watermarks and event-time windows
    still see TIMESTAMP inside the streaming plan (Spark requires it)."""
    for c in cols:
        df = df.withColumn(c, F.col(c).cast("timestamp_ntz"))
    return df


@register(
    "stream_events_hourly",
    oracle="""
        SELECT date_trunc('hour', ts) AS hour_start,
               event_type,
               COUNT(*) AS n_events,
               CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
        FROM events
        GROUP BY date_trunc('hour', ts), event_type
    """,
    tags=("streaming", "window", "event_time"),
)
def stream_events_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1-hour event-time window aggregation as a STREAM — the
    Structured Streaming twin of events_hourly_agg, with a declared
    watermark for bounded state.  Drained via AvailableNow; the result is
    identical to the batch GROUP BY date_trunc('hour') (windows are
    [h, h+1) aligned), which is exactly what the oracle checks.

    Scale: state is one row per (hour, event_type) window.  The fixture
    drain runs in COMPLETE output mode (one-shot oracle parity over a
    finite landing dir), which retains all windows; in the production
    update/append deployment the 2-hour watermark expires old windows,
    so state is O(active windows), independent of stream length."""
    events = read_events_stream(spark, sf_dir)
    agg = (
        events.withWatermark("ts", "2 hours")
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(dec("value", 6)).cast("double").alias("sum_value"),
        )
        .select(
            F.col("w.start").alias("hour_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )
    out = run_stream_to_table(agg, "stream_events_hourly_sink", "complete")
    return _ntz_out(out, "hour_start")


@register(
    "stream_session_window",
    oracle=f"""
        WITH {sessions_sql("value")}
        SELECT user_id,
               MIN(ts) AS session_start,
               COUNT(*) AS n_events,
               CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS session_value
        FROM sess
        GROUP BY user_id, session_id
    """,
    tags=("streaming", "session_window"),
)
def stream_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native ``session_window`` (SESSION_GAP_S gap) streaming
    aggregation — the stateful-streaming expression of gap-based
    sessionization.  The oracle is the batch lag/prefix-sum
    sessionization (``sessions_sql``, shared with the batch queries):
    Spark's session windows (merge-on-overlap with gap timeout) and the
    SQL formulation define the same partition of each user's timeline,
    a gap of exactly SESSION_GAP_S included (tests/test_streaming.py
    runs both on a crafted boundary file).

    Scale: session state merges in-place per key and the watermark closes
    sessions 2 hours behind the max event time — state is O(open
    sessions)."""
    events = read_events_stream(spark, sf_dir)
    gap = f"{SESSION_GAP_S // 60} minutes"
    agg = (
        events.withWatermark("ts", "2 hours")
        .groupBy(F.session_window("ts", gap).alias("sw"), "user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.min("ts").alias("session_start"),
            F.sum(dec("value", 6)).cast("double").alias("session_value"),
        )
        .select("user_id", "session_start", "n_events", "session_value")
    )
    out = run_stream_to_table(agg, "stream_session_window_sink", "complete")
    return _ntz_out(out, "session_start")


# ---------------------------------------------------------------------------
# Custom stateful operator (applyInPandasWithState)
# ---------------------------------------------------------------------------

_USER_STATS_SCHEMA = (
    "user_id LONG, n_events LONG, max_value DOUBLE, last_event_type STRING"
)
_USER_STATE_SCHEMA = "n LONG, mx DOUBLE, last_ts LONG, last_eid LONG, last_type STRING"


def _user_stats_fn(key, pdf_iter, state):
    """Per-user running stats kept in GroupState: count, running max(value),
    and the event_type of the LATEST event seen (by (ts, event_id) order —
    the tie-break must live in state because Arrow chunks arrive in no
    guaranteed order).  Pure-Python state machine — the shape every custom
    stateful operator (CDC dedupe, ordered replay, per-entity FSM) takes on
    this engine."""
    import pandas as pd

    (user_id,) = key
    if state.exists:
        n, mx, last_ts, last_eid, last_type = state.get
    else:
        n, mx, last_ts, last_eid, last_type = 0, float("-inf"), -1, -1, None
    for pdf in pdf_iter:
        if not len(pdf):
            continue
        n += len(pdf)
        mx = max(mx, float(pdf["value"].max()))
        idx = pdf.sort_values(["ts", "event_id"]).index[-1]
        row_ts = int(pd.Timestamp(pdf.loc[idx, "ts"]).value)
        row_eid = int(pdf.loc[idx, "event_id"])
        if (row_ts, row_eid) > (last_ts, last_eid):
            last_ts, last_eid = row_ts, row_eid
            last_type = str(pdf.loc[idx, "event_type"])
    state.update((n, mx, last_ts, last_eid, last_type))
    yield pd.DataFrame(
        {
            "user_id": [user_id],
            "n_events": [n],
            "max_value": [mx],
            "last_event_type": [last_type],
        }
    )


@register(
    "stream_stateful_user_stats",
    oracle="""
        SELECT user_id,
               COUNT(*) AS n_events,
               MAX(value) AS max_value,
               last(event_type ORDER BY ts, event_id) AS last_event_type
        FROM events
        GROUP BY user_id
    """,
    tags=("streaming", "stateful", "applyInPandasWithState"),
)
def stream_stateful_user_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful streaming operator via ``applyInPandasWithState``:
    per-user running event count / max value / latest event type held in
    explicit GroupState.  This is the engine's extension point for
    semantics no built-in aggregation covers (FSMs, CDC upsert, ordered
    dedupe) — Arrow-batched per group, state checkpointable.

    Scale: one state row per user key, shuffled once on user_id; Arrow
    transfer batches whole groups, never row-at-a-time Python."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    events = read_events_stream(spark, sf_dir)
    out = events.groupBy("user_id").applyInPandasWithState(
        _user_stats_fn,
        outputStructType=_USER_STATS_SCHEMA,
        stateStructType=_USER_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    return run_stream_to_table(out, "stream_stateful_user_stats_sink", "update")


def stream_events_to_lake(
    spark: SparkSession, sf_dir: str, lake_root: str, checkpoint: str
) -> str:
    """Streaming ingestion INTO the partitioned lake: the events stream
    lands as year=/month= partitioned parquet (partitions derived from
    event time, matching lake.write_lake_by_event_time's layout), with a
    checkpoint so repeated runs consume only new arrivals.  This is the
    full monthly-arrival story end to end: landing prefix → AvailableNow
    drain → partitioned, pruned, incrementally-growing lake."""
    events = read_events_stream(spark, sf_dir)
    out = os.path.join(lake_root, "events")
    q = (
        events.withColumn("year", F.year("ts"))
        .withColumn("month", F.date_format("ts", "MM"))
        .writeStream.format("parquet")
        .partitionBy("year", "month")
        .option("path", out)
        .option("checkpointLocation", checkpoint)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return out


@register(
    "stream_dedup_watermark",
    oracle="""
        SELECT event_id, ts, user_id, event_type, value
        FROM events
    """,
    tags=("streaming", "dedup", "watermark"),
)
def stream_dedup_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming deduplication with bounded state:
    ``dropDuplicatesWithinWatermark`` on the event key.  The fixture
    stream is doubled first (map-side explode — duplicate delivery is
    exactly what at-least-once sources produce), and the operator
    restores one row per event_id; the oracle is simply the original
    table.

    Scale: dedup state holds one key per event inside the watermark
    horizon and is dropped as event time passes — unbounded streams run
    with bounded memory, which plain dropDuplicates cannot promise."""
    events = read_events_stream(spark, sf_dir)
    doubled = events.select(
        "event_id", "ts", "user_id", "event_type", "value",
        F.explode(F.array(F.lit(1), F.lit(2))).alias("delivery"),
    ).drop("delivery")
    deduped = doubled.withWatermark("ts", "2 hours").dropDuplicatesWithinWatermark(
        ["event_id"]
    )
    out = run_stream_to_table(deduped, "stream_dedup_watermark_sink", "append")
    return _ntz_out(out, "ts")


@register(
    "stream_static_enrich",
    oracle="""
        WITH dim AS (
            SELECT user_id, COUNT(*) AS user_events,
                   CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS user_total
            FROM events GROUP BY user_id
        )
        SELECT e.event_id, e.user_id, e.event_type, d.user_events, d.user_total
        FROM events e JOIN dim d ON e.user_id = d.user_id
    """,
    tags=("streaming", "join", "static"),
)
def stream_static_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAM-STATIC join: the unbounded event stream enriched against a
    bounded dimension DataFrame (per-user lifetime stats, computed batch-
    side) — the lookup-enrichment shape every streaming pipeline needs
    (user profile, device registry, feature snapshot).  Unlike a
    stream-stream join this keeps NO join state and needs NO watermark:
    the static side is just re-read/broadcast per micro-batch, so append
    mode emits immediately.

    Scale: the static side broadcasts when small (profile tables) or
    shuffles the batch side once per micro-batch when not; the stream
    side is never buffered for the join at all — state cost zero, which
    is exactly why enrichment dims should stay static/slowly-refreshed
    rather than be modeled as a second stream."""
    from discogs_etl_spark.queries._util import dsum
    from discogs_etl_spark.tables import load as _load

    events = read_events_stream(spark, sf_dir)
    dim = (
        _load(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("user_events"),
            dsum("value", 6).alias("user_total"),
        )
    )
    joined = events.join(dim, "user_id").select(
        "event_id", "user_id", "event_type", "user_events", "user_total"
    )
    return run_stream_to_table(joined, "stream_static_enrich_sink", "append")


@register(
    "stream_stream_join",
    oracle="""
        SELECT a.user_id,
               a.event_id AS view_event_id,
               b.event_id AS click_event_id,
               a.ts AS view_ts,
               b.ts AS click_ts
        FROM events a
        JOIN events b
          ON a.user_id = b.user_id
         AND a.event_type = 'view' AND b.event_type = 'click'
         AND b.ts >= a.ts AND b.ts <= a.ts + INTERVAL 30 MINUTE
    """,
    tags=("streaming", "join", "interval"),
)
def stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream INNER join with an event-time interval condition:
    each view event pairs with the same user's click events landing
    within the following 30 minutes — the attribution-join shape
    (impression ⋈ conversion).  Both sides carry watermarks; the time
    bound lets Spark expire buffered rows instead of holding both
    streams forever.

    Scale: state per side is bounded by (watermark + interval) of
    buffered rows per user key; the join shuffles both streams once on
    user_id.  Without the interval condition this would be an
    ever-growing-state anti-pattern — the bound IS the design."""
    views = (
        read_events_stream(spark, sf_dir)
        .where(F.col("event_type") == "view")
        .select(
            F.col("user_id").alias("v_user_id"),
            F.col("event_id").alias("view_event_id"),
            F.col("ts").alias("view_ts"),
        )
        .withWatermark("view_ts", "2 hours")
    )
    clicks = (
        read_events_stream(spark, sf_dir)
        .where(F.col("event_type") == "click")
        .select(
            F.col("user_id").alias("c_user_id"),
            F.col("event_id").alias("click_event_id"),
            F.col("ts").alias("click_ts"),
        )
        .withWatermark("click_ts", "2 hours")
    )
    joined = views.join(
        clicks,
        (F.col("v_user_id") == F.col("c_user_id"))
        & (F.col("click_ts") >= F.col("view_ts"))
        & (F.col("click_ts") <= F.col("view_ts") + F.expr("INTERVAL 30 MINUTES")),
    ).select(
        F.col("v_user_id").alias("user_id"),
        "view_event_id",
        "click_event_id",
        "view_ts",
        "click_ts",
    )
    out = run_stream_to_table(joined, "stream_stream_join_sink", "append")
    return _ntz_out(out, "view_ts", "click_ts")


def stream_upsert_to_lake(
    spark: SparkSession,
    sf_dir: str,
    lake_root: str,
    checkpoint: str,
    data_type: str = "event",
    key: str = "event_id",
) -> str:
    """Streaming MERGE into the lake via ``foreachBatch``: each micro-batch
    upserts into its event-time monthly partition with ``lake.upsert_lake``
    (anti-join out replaced keys, union, dynamic-overwrite that partition)
    instead of blind-appending — the pattern for correction feeds, where a
    re-delivered record must REPLACE its prior version, not duplicate it.

    foreachBatch is the streaming↔batch bridge: inside the callback the
    micro-batch is a plain DataFrame, so the exact batch MERGE machinery
    (and its Hadoop-FS scheme awareness) is reused unchanged.  Spark
    retries a failed batch with the same batch_id against the checkpoint,
    and upsert-by-key is idempotent, so re-delivery cannot double-write —
    the exactly-once story without a transactional table format.

    Scale: state is only the file-source checkpoint; each batch touches
    only the (year, month) partitions it contains rows for."""
    events = read_events_stream(spark, sf_dir)
    from discogs_etl_spark.lake import lake_path, upsert_lake

    def _merge_batch(batch_df: DataFrame, batch_id: int) -> None:
        months = [
            (r["y"], r["m"])
            for r in batch_df.select(
                F.year("ts").alias("y"), F.date_format("ts", "MM").alias("m")
            )
            .distinct()
            .collect()  # bounded: one row per (year, month) in the batch
        ]
        for y, m in months:
            part = batch_df.where(
                (F.year("ts") == y) & (F.date_format("ts", "MM") == m)
            )
            upsert_lake(spark, part, lake_root, data_type, y, m, key=key)

    q = (
        events.writeStream.foreachBatch(_merge_batch)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return lake_path(lake_root, data_type)


try:  # Spark 4+ only; the module must import without the API
    from pyspark.sql.streaming.stateful_processor import StatefulProcessor as _SP
except ImportError:  # pragma: no cover - older Spark
    _SP = object


class TypeCountsProcessor(_SP):
    """StatefulProcessor for transformWithStateInPandas: per-user MAP
    state (event_type → count) plus a VALUE state for the running value
    sum in exact fixed-point micros — the typed-state-primitive
    (ValueState/MapState/ListState) successor to the single-tuple
    GroupState of applyInPandasWithState.  Module-level class: the
    processor is pickled by reference into the TWS driver worker."""

    def init(self, handle) -> None:
        self.counts = handle.getMapState("counts", "k string", "v long")
        self.total = handle.getValueState("total_micros", "t long")

    def handleInputRows(self, key, rows, timer_values):
        import pandas as pd

        (user_id,) = key
        total = self.total.get()[0] if self.total.exists() else 0
        for pdf in rows:
            if not len(pdf):
                continue
            for et, n in pdf.groupby("event_type").size().items():
                prev = (
                    self.counts.getValue((et,))[0]
                    if self.counts.containsKey((et,))
                    else 0
                )
                self.counts.updateValue((et,), (prev + int(n),))
            # per-ROW fixed-point micros, then integer sum: batch-sum-
            # then-round would make state depend on micro-batch boundaries
            total += int(
                pdf["value"].mul(1_000_000).round().astype("int64").sum()
            )
        self.total.update((total,))
        items = sorted(
            ((k[0], v[0]) for k, v in self.counts.iterator()),
            key=lambda kv: (-kv[1], kv[0]),
        )
        yield pd.DataFrame(
            {
                "user_id": [user_id],
                "n_types": [len(items)],
                "n_events": [sum(v for _, v in items)],
                "top_type": [items[0][0]],
                "total_value": [round(total / 1_000_000, 6)],
            }
        )

    def close(self) -> None:
        pass


def transform_with_state_available() -> bool:
    """transformWithStateInPandas launches a protobuf-speaking driver
    worker; this container's google.protobuf is broken (ImportError:
    cannot import name 'descriptor'), so the API is environment-gated
    here the same way PIL gates real image decode.  The operator below is
    complete and becomes a registered, oracle-checked query the moment
    the dependency lands — applyInPandasWithState
    (stream_stateful_user_stats) is the supported stateful surface in
    this container."""
    try:
        from google.protobuf import descriptor  # noqa: F401

        return True
    except ImportError:
        return False


def stream_transform_with_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The MODERN stateful-streaming API (transformWithStateInPandas,
    Spark 4): per-user typed state — a MapState of event-type counts and
    a ValueState running value sum in exact fixed-point micros — emitting
    each user's type diversity, modal event type, and total value.
    Requires the RocksDB state store (typed-state primitives are
    RocksDB-only); the conf is set per-call and restored.

    Versus applyInPandasWithState (stream_stateful_user_stats): state is
    structured and individually updatable (point-updates to one map key,
    no whole-tuple rewrite), TTL is per-state, and timers are first-class
    — the API the engine standardizes on for new stateful operators.

    Scale: one RocksDB keyspace per (user, state) — point lookups, no
    per-batch full-state scan; output is one row per user per batch."""
    proc = TypeCountsProcessor()
    rocksdb = "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
    with scoped_conf(spark, {"spark.sql.streaming.stateStore.providerClass": rocksdb}):
        events = read_events_stream(spark, sf_dir)
        out = events.groupBy("user_id").transformWithStateInPandas(
            statefulProcessor=proc,
            outputStructType=(
                "user_id LONG, n_types LONG, n_events LONG, "
                "top_type STRING, total_value DOUBLE"
            ),
            outputMode="Update",
            timeMode="None",
        )
        return run_stream_to_table(
            out, "stream_transform_with_state_sink", "update"
        )


@register(
    "stream_sliding_window",
    oracle="""
        WITH starts AS (
            SELECT time_bucket(INTERVAL '30 minutes', ts) AS ws, event_type, value
            FROM events
            UNION ALL
            SELECT time_bucket(INTERVAL '30 minutes', ts) - INTERVAL '30 minutes',
                   event_type, value
            FROM events
        )
        SELECT ws AS window_start, event_type,
               COUNT(*) AS n_events,
               CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
        FROM starts GROUP BY ws, event_type
    """,
    tags=("streaming", "window", "sliding"),
)
def stream_sliding_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SLIDING event-time windows as a stream: 1-hour windows advancing
    every 30 minutes, so each event lands in exactly TWO overlapping
    windows — the moving-average window type (tumbling and session are
    covered by stream_events_hourly / stream_session_window; this
    completes Spark's three streaming window kinds).

    The oracle materializes the overlap explicitly: each event
    contributes to the window starting at its 30-minute bucket AND the
    one 30 minutes earlier — exactly the window-assignment expansion
    Spark's Expand node performs for sliding windows.

    Scale: state is one row per (window, event_type); the 2-hour
    watermark expires closed windows, and the overlap factor
    (length/slide = 2) multiplies shuffle rows — the documented cost of
    sliding vs tumbling at any scale."""
    events = read_events_stream(spark, sf_dir)
    agg = (
        events.withWatermark("ts", "2 hours")
        .groupBy(F.window("ts", "1 hour", "30 minutes").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(dec("value", 6)).cast("double").alias("sum_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )
    out = run_stream_to_table(agg, "stream_sliding_window_sink", "complete")
    return _ntz_out(out, "window_start")


@register(
    "stream_global_topk_users",
    oracle="""
        SELECT user_id,
               CAST(SUM(CAST(round(value, 6) AS DECIMAL(28,6))) AS DOUBLE)
                   AS total_value
        FROM events GROUP BY user_id
        ORDER BY total_value DESC, user_id LIMIT 5
    """,
    tags=("streaming", "topk", "complete_mode"),
)
def stream_global_topk_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GLOBAL TOP-K over a stream: the 5 users with the highest running
    total value.  Sorting a stream is only defined when the sink sees
    the COMPLETE aggregate each trigger — exactly the complete-output
    leaderboard pattern (and the reason append-mode streams cannot
    ORDER BY); state is one row per user, the sort runs over the
    (user-sized) aggregate, and the memory sink holds k rows.

    Exactness: per-user totals accumulate as 6-dp decimals, so the
    ranking compares exact sums — same ordering both engines, ties by
    user id."""
    events = read_events_stream(spark, sf_dir)
    agg = (
        events.groupBy("user_id")
        .agg(
            F.sum(F.round("value", 6).cast("decimal(28,6)"))
            .cast("double")
            .alias("total_value")
        )
        .orderBy(F.desc("total_value"), F.asc("user_id"))
        .limit(5)
    )
    return run_stream_to_table(agg, "stream_global_topk_users_sink", "complete")


@register(
    "stream_hourly_error_rate",
    oracle="""
        SELECT date_trunc('hour', ts) AS hour_start,
               COUNT(*) AS n_events,
               CAST(COUNT(*) FILTER (event_type = 'error') AS BIGINT) AS n_errors,
               round(COUNT(*) FILTER (event_type = 'error')
                     / CAST(COUNT(*) AS DOUBLE), 6) AS error_rate
        FROM events
        GROUP BY date_trunc('hour', ts)
    """,
    tags=("streaming", "window", "derived_metric", "sre"),
)
def stream_hourly_error_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DERIVED METRIC in a streaming window: per tumbling hour, the
    error RATE — a ratio of two conditional counts computed inside one
    windowed aggregation (not two streams joined) — the live twin of
    events_error_budget_burn's daily batch meter and the shape every
    streaming SLO dashboard runs.  The rate derives in the same
    projection so no second stateful operator exists.

    Scale: the fixture drain below runs in COMPLETE output mode (for
    one-shot oracle parity over a finite landing dir), where Spark
    retains all window state and the watermark evicts nothing; a
    production deployment would run this exact plan in update/append
    mode, where the 2-hour watermark bounds state to O(open hour
    windows).  The conditional count is map-side within the window
    state update either way."""
    events = read_events_stream(spark, sf_dir)
    agg = (
        events.withWatermark("ts", "2 hours")
        .groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.count(F.when(F.col("event_type") == "error", 1))
            .cast("bigint")
            .alias("n_errors"),
        )
        .select(
            F.col("w.start").alias("hour_start"),
            "n_events",
            "n_errors",
            F.round(
                F.col("n_errors") / F.col("n_events").cast("double"), 6
            ).alias("error_rate"),
        )
    )
    out = run_stream_to_table(agg, "stream_hourly_error_rate_sink", "complete")
    return _ntz_out(out, "hour_start")


# Deterministic location shared by the streaming file sink and the DuckDB
# oracle (the oracle is a static SQL string, so the path cannot vary per
# run) — the streaming twin of etl_roundtrip.ROUNDTRIP_ROOT.
#
# SINGLE-RUN ASSUMPTION (same as ROUNDTRIP_ROOT): the roundtrip query
# rmtree-wipes this root at query start, so two concurrent driver
# sessions on one machine would clobber each other's lake/checkpoint
# mid-comparison.  The oracle being a static SQL string is what forces a
# fixed path; the harness (driver + pytest) runs these queries from one
# process at a time.  A deployment that ever needs concurrent runs
# should key the root by an externally-provided run id and rebuild the
# oracle string accordingly.
def _stream_lake_root() -> str:
    import tempfile

    return os.path.join(tempfile.gettempdir(), "discogs_etl_spark_stream_lake")


_STREAM_LAKE_ORACLE = f"""
    SELECT CAST(year AS INT) AS year,
           month,
           event_type,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(round(value, 6) AS DECIMAL(28,6))) AS DOUBLE)
               AS sum_value
    FROM read_parquet(
        '{_stream_lake_root()}/lake/events/*/*/*.parquet',
        hive_partitioning = true)
    GROUP BY year, month, event_type
"""


@register(
    "stream_events_lake_roundtrip",
    oracle=_STREAM_LAKE_ORACLE,
    tags=("streaming", "lake", "file_sink", "roundtrip"),
)
def stream_events_lake_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming ingestion INTO the partitioned lake, roundtripped: the
    events stream drains through ``stream_events_to_lake`` (file sink,
    year=/month= event-time partitions, checkpointed exactly-once
    manifest), then the WRITTEN lake is read back with partition
    discovery and aggregated — and the DuckDB oracle reads the very same
    parquet files.  Two independent readers agreeing on the bytes the
    streaming sink wrote is the driver-evidenced twin of what
    ``xml_ingest_roundtrip`` pins for the batch ETL plane; until this
    query the durable-sink path (run_stream_to_parquet / partitionBy on
    a stream) lived on local tests alone.

    The lake and checkpoint are wiped first so a stale layout from an
    older code version can never leak into this run's comparison; a
    production deployment keeps the checkpoint so each monthly arrival
    drains incrementally (only new files are processed).

    Scale: the sink appends partition-locally (no shuffle — file-source
    batches map straight to year/month directories); the read-back
    aggregation is a partial-agg groupBy on (partition cols, event_type).
    Values accumulate as 6-dp decimals so both engines sum exactly."""
    import shutil

    root = _stream_lake_root()
    shutil.rmtree(root, ignore_errors=True)
    lake_root = os.path.join(root, "lake")
    ckpt = os.path.join(root, "ckpt")
    out = stream_events_to_lake(spark, sf_dir, lake_root, ckpt)
    # A stream over an empty landing dir legitimately commits no files;
    # the read-back of a never-written lake is the one roundtrip state
    # with no bytes for EITHER reader — return the aggregate's (empty)
    # shape instead of a PATH_NOT_FOUND from the glob (r11 empty-input
    # hardening).
    import glob

    if not glob.glob(os.path.join(out, "year=*", "month=*", "*.parquet")):
        return local_frame(
            spark,
            [],
            "year int, month string, event_type string,"
            " n_events bigint, sum_value double",
        )
    # Read the WRITTEN FILES, not the sink's _spark_metadata manifest:
    # the DuckDB oracle globs raw parquet, so Spark must see the same
    # byte set — a retried sink task's orphan file would otherwise be
    # visible to one reader only.  Globbing leaf files (with basePath
    # for partition discovery) bypasses the MetadataLogFileIndex that a
    # root-dir read of a streaming sink would use.
    back = spark.read.option("basePath", out).parquet(
        os.path.join(out, "year=*", "month=*", "*.parquet")
    )
    # Spark's partition-type inference reads month=01 as int 1; DuckDB's
    # hive_partitioning keeps the directory string — re-pad to the
    # written 2-digit form so both sides agree.
    month = F.lpad(F.col("month").cast("string"), 2, "0").alias("month")
    return back.groupBy(
        F.col("year").cast("int").alias("year"), month, "event_type"
    ).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.round("value", 6).cast("decimal(28,6)"))
        .cast("double")
        .alias("sum_value"),
    )
