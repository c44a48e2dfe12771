"""The benchmark's workloads.

Each workload is run the same way (:func:`run`): set the session up
several times, then make one cold pass over the workload's operations,
a few settling passes and at least a fixed number of measured warm passes
(more while the measuring time lasts), check the outputs outside every
timed region and, when tracing, probe single layers after the passes.  A pass's time is the sum of its
operations' times, so checks and trace bookkeeping never count.

Every timed call goes into the engine's public functions; nothing in the
engine is patched.
"""

from __future__ import annotations

import os
import random
import re
import shutil
import statistics
import time
import traceback
from dataclasses import dataclass, field

import dumps_gen
import oracle
import sparkprobe
from spans import Spans

SETUPS = 3
HERE = os.path.dirname(os.path.abspath(__file__))
# A byte-identical copy of the engine's sf0.01 test fixtures (seed 42), so
# the benchmark reads nothing outside its checkout.  The query inputs are
# fixed; the run seed draws the order of every pass.
FIXTURES_SF001 = os.path.join(HERE, "fixtures", "sf0.01")
TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")

ANALYTICS = (
    "flagship_scan_filter_limit",
    "sort_topk_orders",
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_regional_revenue",
    "join_broadcast_part_agg",
    "events_hourly_agg",
    "sessions_max_concurrency",
    "graph_triangle_count",
    "graph_pagerank_coorder",
)
LLM = (
    "dedup_exact_hash",
    "dedup_minhash_lsh",
    "dedup_connected_components",
    "dedup_cc_starcontraction",
    "similarity_topk_bruteforce",
    "kmeans_embeddings_fixed",
    "text_stats_by_lang",
    "text_chunk_sliding",
    "text_search_inverted_topk",
    "text_search_bm25_topk",
    "lm_bigram_surprisal",
    "feature_hashing_vectorize",
    "corpus_curate_pipeline",
)

# A pass over either list above costs 15-35 s on four cores, and a run
# needs a fresh JVM, set-ups, a cold and several warm passes and checks.
# This cut keeps a whole run under a minute and still reaches every layer
# the lists exercise:
# a lineitem scan + aggregate, a broadcast join, an events aggregate,
# connected components (a builder running a chain of eager checkpoint
# jobs over a memoised pair graph) and an inverted-index search.
QUERIES = (
    "q1_pricing_summary",
    "join_broadcast_part_agg",
    "events_hourly_agg",
    "dedup_connected_components",
    "text_search_inverted_topk",
)


@dataclass
class Context:
    work: str
    seed: int
    seconds: float
    trace: bool
    spans: Spans
    event_log_dir: str = ""


@dataclass
class Outcome:
    sessions: list[float] = field(default_factory=list)  # get_spark, the first in a cold JVM
    warmups: list[float] = field(default_factory=list)
    passes: list[float] = field(default_factory=list)
    op_warm: dict[str, list[float]] = field(default_factory=dict)
    attempted: int = 0
    failures: list[str] = field(default_factory=list)
    layers: dict[str, float] = field(default_factory=dict)
    detail: dict = field(default_factory=dict)
    peak_rss_mb: float = 0.0
    settle: int = 0  # passes after the cold one that run but are not measured

    def op(self, name: str, seconds: float, index: int) -> None:
        if index > self.settle:
            self.op_warm.setdefault(name, []).append(seconds)

    def warm_passes(self) -> list[float]:
        return self.passes[1 + self.settle:]

    def check(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.failures.append(what)


def _median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


def pinned_specs(names: tuple[str, ...]) -> dict:
    """The registry entries of ``names``, in that order; an unregistered
    or oracle-less name stops the benchmark."""
    from discogs_etl_spark.registry import all_specs

    specs = all_specs()
    bad = [n for n in names if n not in specs or specs[n].oracle is None]
    if bad:
        raise SystemExit(f"perfbench: not registered with an oracle: {bad}")
    return {n: specs[n] for n in names}


def _sf01_dir() -> str:
    """The engine's sf0.1 fixture directory (``SPARK_GRAFT_SF_DIR``)."""
    from discogs_etl_spark.tables import DEFAULT_SF_DIR

    return DEFAULT_SF_DIR


class QueryWorkload:
    """A pinned list of registered queries over the engine's fixture tables."""

    # The JIT keeps speeding these queries up for some twenty passes after
    # the cold one; the settling passes take the steepest part of that out
    # of the measured ones within the run's time budget.
    settle_passes = 2
    warm_passes = 4

    def __init__(self, queries: tuple[str, ...], sf_dir: str):
        self.names = queries
        self.sf_dir = sf_dir

    def prepare(self, ctx: Context) -> None:
        self.specs = pinned_specs(self.names)
        paths = {t: os.path.join(self.sf_dir, f"{t}.parquet") for t in TABLES}
        missing = [p for p in paths.values() if not os.path.isfile(p)]
        if missing:
            raise SystemExit(f"perfbench: missing fixture tables: {missing}")
        self.tables = sorted(
            t for t in paths
            if any(re.search(rf"\b{t}\b", s.oracle) for s in self.specs.values())
        )
        self.expected = oracle.oracle_digests(
            self.specs, paths, os.path.join(ctx.work, "oracle_digests.json"), sparkprobe.nproc()
        )
        self.rng = random.Random(ctx.seed)
        self.last: dict = {}

    def warmup(self, spark, ctx: Context) -> None:
        from discogs_etl_spark.tables import load

        spark.range(1_000_000).selectExpr("sum(id)").collect()
        for t in self.tables:
            load(spark, self.sf_dir, t).write.format("noop").mode("overwrite").save()

    def run_pass(self, spark, ctx: Context, out: Outcome, index: int) -> float:
        sc = spark.sparkContext
        sp = ctx.spans
        total = 0.0
        self.last = {}
        for name in self.rng.sample(self.names, len(self.names)):
            group = f"p{index}/{name}"
            out.attempted += 1
            try:
                with sp.span("query", query=name, pass_index=index) as q:
                    with sp.span("build"):
                        sc.setJobGroup(group + "/build", name)
                        df = self.specs[name].fn(spark, self.sf_dir)
                    with sp.span("plan"):
                        df._jdf.queryExecution().executedPlan()
                    with sp.span("exec"):
                        sc.setJobGroup(group + "/exec", name)
                        df.write.format("noop").mode("overwrite").save()
            except Exception as e:  # counted, reported, and the run goes on
                traceback.print_exc()
                out.failures.append(f"{name} (pass {index}): {type(e).__name__}: {e}"[:300])
                continue
            total += q["dur"]
            out.op(name, q["dur"], index)
            if ctx.trace:
                q["build_counts"] = sparkprobe.group_counts(sc, group + "/build")
                q["exec_counts"] = sparkprobe.group_counts(sc, group + "/exec")
            self.last[name] = df
        return total

    def check(self, spark, ctx: Context, out: Outcome) -> None:
        # The last pass's executions are the ones checked: a mismatch fails
        # that execution (attempted was counted when it ran).
        for name, df in self.last.items():
            with ctx.spans.span("check", query=name):
                try:
                    rows = [tuple(r) for r in df.collect()]
                    if not oracle.matches(df.columns, rows, self.expected[name]):
                        out.failures.append(f"{name}: output differs from its DuckDB oracle")
                except Exception as e:
                    out.failures.append(f"{name}: collect failed: {type(e).__name__}: {e}"[:300])

    def probe(self, spark, ctx: Context, out: Outcome) -> None:
        """Scan every fixture table the workload reads through
        ``tables.load`` into the noop sink (three times; median)."""
        from discogs_etl_spark.tables import load

        sc = spark.sparkContext
        reps = []
        for rep in range(3):
            with ctx.spans.span("probe.tables_scan", rep=rep) as s:
                for t in self.tables:
                    sc.setJobGroup(f"probe/scan/{rep}/{t}", t)
                    load(spark, self.sf_dir, t).write.format("noop").mode("overwrite").save()
            reps.append(s["dur"])
        out.layers["tables.scan_s"] = _median(reps)
        out.layers["tables.scan_tasks"] = sum(
            sparkprobe.group_counts(sc, f"probe/scan/0/{t}")["tasks"] for t in self.tables
        )

    def layers(self, ctx: Context, out: Outcome, warm: list[int]) -> dict[str, float]:
        """Per-warm-pass means of the status-tracker and span layers."""
        sp = ctx.spans
        n = max(1, len(warm))
        tot = dict.fromkeys(
            ("build_s", "plan_s", "exec_s", "build_jobs", "jobs", "stages", "tasks"), 0.0
        )
        for q in sp.rows:
            if q["name"] != "query" or q.get("pass_index") not in warm or "exec_counts" not in q:
                continue
            for child in sp.rows:
                if child["parent"] == q["id"]:
                    tot[child["name"] + "_s"] += child["dur"]
            b, e = q["build_counts"], q["exec_counts"]
            tot["build_jobs"] += b["jobs"]
            tot["jobs"] += e["jobs"]
            tot["stages"] += e["stages"]
            tot["tasks"] += e["tasks"]
        return {
            "query.build_s": tot["build_s"] / n,
            "query.build_jobs": tot["build_jobs"] / n,
            "query.plan_s": tot["plan_s"] / n,
            "query.exec_s": tot["exec_s"] / n,
            "query.jobs": tot["jobs"] / n,
            "query.stages": tot["stages"] / n,
            "query.tasks": tot["tasks"] / n,
            "query.tasks_per_stage": tot["tasks"] / tot["stages"] if tot["stages"] else 0.0,
        }

    def exec_windows(self, ctx: Context, warm: list[int]) -> list[tuple[float, float]]:
        sp = ctx.spans
        queries = {q["id"] for q in sp.rows if q["name"] == "query" and q.get("pass_index") in warm}
        return [(r["start"], r["end"]) for r in sp.rows if r["name"] == "exec" and r["parent"] in queries]

    def extra(self, out: Outcome) -> dict[str, float]:
        return {}


GENRE_SQL = (
    "SELECT id FROM releases WHERE year = {year} AND month = '{month:02d}' "
    "AND array_contains(genres, 'Jazz') AND size(genres) > 1"
)
COUNT_SQL = " UNION ALL ".join(
    f"SELECT '{t}' AS type, year, month, count(*) AS n FROM {t}s GROUP BY year, month"
    for t in ("release", "master", "artist", "label")
)


def _lake_files(path: str) -> dict[str, int]:
    out = {}
    for d, _, files in os.walk(path):
        for f in files:
            if f.endswith(".parquet"):
                out[os.path.join(d, f)] = os.path.getsize(os.path.join(d, f))
    return out


class LakeWorkload:
    """XML dumps → partitioned lake → read-after-write SQL → append and
    compact, through ``pipeline.backfill``, ``lake.read_lake``,
    ``lake.write_lake`` and ``lake.compact_lake``."""

    settle_passes = 1  # the lake's pass times are flat after the first warm one
    warm_passes = 3

    def prepare(self, ctx: Context) -> None:
        self.dir = os.path.join(ctx.work, "dumps", f"seed{ctx.seed}")
        self.dumps = dumps_gen.generate(self.dir, ctx.seed)
        self.ingested = [p for p in self.dumps.paths if p != self.dumps.stale]
        self.lakes = os.path.join(ctx.work, "lakes")
        shutil.rmtree(self.lakes, ignore_errors=True)
        self.root = ""

    def warmup(self, spark, ctx: Context) -> None:
        spark.range(1_000_000).selectExpr("sum(id)").collect()
        spark.sparkContext.parallelize(range(8), 4).map(lambda x: x + 1).collect()

    def run_pass(self, spark, ctx: Context, out: Outcome, index: int) -> float:
        from discogs_etl_spark.lake import compact_lake, read_lake, write_lake
        from discogs_etl_spark.pipeline import backfill
        from discogs_etl_spark.sources.manifest import parse_checksum_manifest
        from discogs_etl_spark.sources.xml_ingest import ingest_xml

        sp = ctx.spans
        d = self.dumps
        if self.root:
            shutil.rmtree(self.root, ignore_errors=True)
        self.root = root = os.path.join(self.lakes, f"p{index}")
        steps = {}
        with sp.span("step", step="backfill", pass_index=index) as s:
            results = backfill(
                spark, d.paths, root, checksums=parse_checksum_manifest(spark, d.manifest)
            )
        steps["backfill"] = s["dur"]
        self.written = _lake_files(root)
        for r in results:
            out.check(r.checksum_ok is True, f"checksum audit {r.filename}: {r.checksum_ok}")
        out.check(
            sorted(os.path.join(self.dir, r.filename) for r in results) == sorted(self.ingested),
            "backfill chose the wrong dumps",
        )
        with sp.span("step", step="lake_query", pass_index=index) as s:
            with sp.span("read"):
                for t in ("release", "master", "artist", "label"):
                    read_lake(spark, root, t).createOrReplaceTempView(t + "s")
            gy, gm = d.genre_month
            genre = spark.sql(GENRE_SQL.format(year=gy, month=gm)).collect()
            counts = spark.sql(COUNT_SQL).collect()
        steps["lake_query"] = s["dur"]
        out.check(sorted(r["id"] for r in genre) == d.genre_ids, "genre query result")
        got = {(r["type"], r["year"], int(r["month"])): r["n"] for r in counts}
        for key, n in d.counts.items():
            out.check(got.get(key) == n, f"row count {key}: {got.get(key)} != {n}")
        out.check(len(got) == len(d.counts), "unexpected lake partitions")
        iy, im = d.increment_month
        with sp.span("step", step="increments", pass_index=index) as s:
            for path in d.increments:
                write_lake(ingest_xml(spark, path, "release"), root, "release", iy, im, mode="append")
        steps["increments"] = s["dur"]
        self.before = _lake_files(root)
        with sp.span("step", step="compact", pass_index=index) as s:
            rewritten = compact_lake(spark, root, "release")
        steps["compact"] = s["dur"]
        self.after = _lake_files(root)
        out.check(rewritten == 1, f"compaction rewrote {rewritten} partitions, expected 1")
        for name, dur in steps.items():
            out.op(name, dur, index)
        return sum(steps.values())

    def _check_compacted(self, spark, out: Outcome) -> None:
        from discogs_etl_spark.lake import read_lake_partition

        iy, im = self.dumps.increment_month
        want = self.dumps.counts[("release", iy, im)] + dumps_gen.INCREMENTS * dumps_gen.INCREMENT_SIZE
        got = read_lake_partition(spark, self.root, "release", iy, f"{im:02d}").count()
        out.check(got == want, f"compacted month holds {got} rows, expected {want}")

    def check(self, spark, ctx: Context, out: Outcome) -> None:
        with ctx.spans.span("check"):
            self._check_compacted(spark, out)

    def probe(self, spark, ctx: Context, out: Outcome) -> None:
        """Single-layer probes over the ingested dumps: the catalog,
        serial per-dump ``ingest_dump_to_lake``, the driver-side XML
        parser, and Spark-side parse vs Parquet write."""
        from discogs_etl_spark.lake import ingest_dump_to_lake, parse_dump_url, write_lake
        from discogs_etl_spark.sources.manifest import (
            dumps_catalog,
            organize_dumps,
            parse_checksum_manifest,
        )
        from discogs_etl_spark.sources.xml_ingest import ingest_xml, iter_records_stream

        sp = ctx.spans
        cat = []
        for rep in range(3):
            with sp.span("probe.catalog", rep=rep) as s:
                organize_dumps(
                    dumps_catalog(spark, self.dumps.paths),
                    parse_checksum_manifest(spark, self.dumps.manifest),
                ).collect()
            cat.append(s["dur"])
        out.layers["backfill.catalog_s"] = _median(cat)
        serial_root = os.path.join(self.lakes, "serial")
        with sp.span("probe.serial_backfill") as serial:
            for path in self.ingested:
                with sp.span("dump", file=os.path.basename(path)):
                    ingest_dump_to_lake(spark, path, serial_root)
        records = 0
        with sp.span("probe.xml_parse") as parse:
            for path in self.ingested:
                with open(path, "rb") as f:
                    records += sum(1 for _ in iter_records_stream(f, parse_dump_url(path)["data_type"]))
        split_root = os.path.join(self.lakes, "split")
        ingest_s = write_s = 0.0
        with sp.span("backfill.split"):
            for path in self.ingested:
                info = parse_dump_url(path)
                with sp.span("dump", file=os.path.basename(path)):
                    with sp.span("parse") as p:
                        df = ingest_xml(spark, path, info["data_type"]).localCheckpoint()
                    with sp.span("write") as w:
                        write_lake(df, split_root, info["data_type"], info["year"], info["month"])
                ingest_s += p["dur"]
                write_s += w["dur"]
        out.layers.update(
            {
                "backfill.concurrency": serial["dur"] / max(1e-9, _median(out.op_warm["backfill"])),
                "xml.parse_s": parse["dur"],
                "xml.records_per_s": records / parse["dur"],
                "xml.ingest_s": ingest_s,
                "lake.write_s": write_s,
            }
        )

    def layers(self, ctx: Context, out: Outcome, warm: list[int]) -> dict[str, float]:
        sp = ctx.spans
        reads = [r["dur"] for r in sp.rows if r["name"] == "read"
                 and sp.rows[r["parent"]].get("pass_index") in warm]
        new = {p: s for p, s in self.after.items() if p not in self.before}
        return {
            "lake.read_s": _median(reads),
            "lake.files_written": len(self.written),
            "lake.bytes_written": sum(self.written.values()),
            "lake.files_before_compact": len(self.before),
            "lake.files_after_compact": len(self.after),
            "lake.bytes_rewritten": sum(new.values()),
        }

    def exec_windows(self, ctx: Context, warm: list[int]) -> list[tuple[float, float]]:
        return [(r["start"], r["end"]) for r in ctx.spans.rows
                if r["name"] == "step" and r.get("pass_index") in warm]

    def extra(self, out: Outcome) -> dict[str, float]:
        """The lake's own end-to-end figures (median over warm passes)."""
        return {
            "lake.backfill_s": _median(out.op_warm.get("backfill", [])),
            "lake.query_s": _median(out.op_warm.get("lake_query", [])),
            "lake.compact_s": _median(out.op_warm.get("compact", [])),
            "lake.bytes_per_input_byte": sum(self.written.values()) / self.dumps.xml_bytes,
        }


WORKLOADS = {
    "queries-sf0.01": lambda: QueryWorkload(QUERIES, FIXTURES_SF001),
    "lake-etl": LakeWorkload,
    "analytics-sf0.1": lambda: QueryWorkload(ANALYTICS, _sf01_dir()),
    "llm-sf0.1": lambda: QueryWorkload(LLM, _sf01_dir()),
}


def run(name: str, ctx: Context) -> tuple[Outcome, dict]:
    """Run one workload; returns the outcome and the host facts."""
    from discogs_etl_spark.session import get_spark

    wl = WORKLOADS[name]()
    out = Outcome()
    sp = ctx.spans
    wl.prepare(ctx)
    load_before = sparkprobe.loadavg()
    spark = None
    with sp.span("run"), sp.span("workload", workload=name, seed=ctx.seed):
        try:
            for i in range(SETUPS):
                if i:
                    spark.stop()
                with sp.span("setup", index=i):
                    with sp.span("session") as sess:
                        spark = get_spark(app_name=f"perfbench-{name}")
                        spark.sparkContext.setLogLevel("ERROR")
                    with sp.span("warmup") as w:
                        wl.warmup(spark, ctx)
                out.sessions.append(sess["dur"])
                out.warmups.append(w["dur"])
            host = sparkprobe.host_facts(spark)
            # Every run measures at least ``warm_passes`` warm passes, however
            # slow the machine, so the medians always cover the same
            # passes; a fast machine may add more within the measuring time.
            out.settle = wl.settle_passes
            t0 = time.perf_counter()
            index = 0
            while (index <= out.settle + wl.warm_passes
                   or time.perf_counter() - t0 < ctx.seconds):
                with sp.span("pass", pass_index=index) as p:
                    py0 = sparkprobe.python_worker_cpu_s() if ctx.trace else 0.0
                    p["work_s"] = wl.run_pass(spark, ctx, out, index)
                    if ctx.trace:
                        p["python_worker_cpu_s"] = sparkprobe.python_worker_cpu_s() - py0
                out.passes.append(p["work_s"])
                index += 1
            wl.check(spark, ctx, out)
            if ctx.trace:
                wl.probe(spark, ctx, out)
            out.peak_rss_mb = sparkprobe.peak_rss_mb()
        finally:
            if spark is not None:
                sparkprobe.shutdown(spark)
    host["loadavg_before"] = load_before
    host["loadavg_after"] = sparkprobe.loadavg()
    out.layers["session.start_s"] = out.sessions[0]
    out.layers["session.warmup_s"] = _median(out.warmups)
    warm = list(range(1 + out.settle, len(out.passes)))
    out.detail["warm_passes"] = len(warm)
    out.detail["per_op_warm_s"] = {k: _median(v) for k, v in sorted(out.op_warm.items())}
    out.detail.update(wl.extra(out))
    if ctx.trace:
        out.layers.update(wl.layers(ctx, out, warm))
        out.layers.update(_event_log_layers(ctx, wl, warm, host))
        out.layers.update(wl.extra(out))
    return out, host


def _event_log_layers(ctx: Context, wl, warm: list[int], host: dict) -> dict[str, float]:
    sp = ctx.spans
    log = sparkprobe.EventLog.latest(ctx.event_log_dir)
    passes = [(r["start"], r["end"]) for r in sp.rows
              if r["name"] == "pass" and r.get("pass_index") in warm]
    n = max(1, len(warm))
    tot = log.task_totals(passes)
    execs = wl.exec_windows(ctx, warm)
    exec_wall = sum(hi - lo for lo, hi in execs)
    run_in_exec = log.task_totals(execs)["run_s"]
    lake_queries = [(r["start"], r["end"]) for r in sp.rows
                    if r.get("step") == "lake_query" and r.get("pass_index") in warm]
    return {
        "exec.executor_run_s": tot["run_s"] / n,
        "exec.executor_cpu_s": tot["cpu_s"] / n,
        "exec.jvm_gc_s": tot["gc_s"] / n,
        "exec.core_utilisation": run_in_exec / (exec_wall * host["default_parallelism"])
        if exec_wall else 0.0,
        "exec.shuffle_read_bytes": tot["shuffle_read"] / n,
        "exec.shuffle_write_bytes": tot["shuffle_write"] / n,
        "exec.spill_bytes": tot["spill"] / n,
        "exec.input_bytes": tot["input"] / n,
        "exec.python_bytes": tot["python_bytes"] / n,
        "exec.python_worker_cpu_s": sum(
            r["python_worker_cpu_s"] for r in sp.rows
            if r["name"] == "pass" and r.get("pass_index") in warm
        ) / n,
        "exec.failed_tasks": tot["failed_tasks"] / n,
        "lake.files_scanned": log.driver_metric("number of files read", lake_queries) / n,
    }
