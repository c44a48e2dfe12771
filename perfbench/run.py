#!/usr/bin/env python3
"""spark-graft benchmark: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload lake-etl --seed 1 --seconds 10 --trace 0

Run from the repository root.  Workloads (see ``workloads.py``):

- ``queries-sf0.01`` — five registered queries over a copy of the
  engine's sf0.01 fixture tables (``perfbench/fixtures``);
  ``analytics-sf0.1`` and ``llm-sf0.1`` run the two full pinned lists the
  same way over the sf0.1 fixtures named by ``SPARK_GRAFT_SF_DIR``
  (15-35 s per pass each).  Every pass runs
  the queries in an order drawn from the seed; outputs are checked against
  their DuckDB oracles.
- ``lake-etl`` — seeded Discogs XML dumps → ``pipeline.backfill`` →
  read-after-write SQL → appends + ``compact_lake``; outputs are checked
  against the generator's counts and the checksum audit.

Spark runs on ``local[nproc]``.  Generated inputs, lakes, Spark scratch
space, the oracle-digest cache and results live under ``.perfbench_work/``
in the repository root.

The last stdout line is ``{"correct", "attempted", "failed", "metrics"}``;
with ``--trace 0`` the metrics are the end-to-end set of
``BENCHMARK.json``, with ``--trace 1`` the per-layer set.  The line before
it is a detail record: host facts (master, default parallelism, nproc,
CPU model, loadavg before/after), per-operation warm times, failed
checks, the lake figures and, when tracing, the span file and the
tracing overhead against the latest untraced run of the same workload.
Tracing also enables Spark's JSON event log for the run's session and
parses it after the session stops.
"""

from __future__ import annotations

import argparse
import glob
import json
import math
import os
import shutil
import statistics
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")

END_TO_END = {
    "setup_s": "s",
    "warm_pass_s": "s",
    "warm_query_geomean_s": "s",
}
PER_LAYER = {
    "cold_pass_s": "s",
    "peak_rss_mb": "MiB",
    "session.start_s": "s",
    "session.warmup_s": "s",
    "tables.scan_s": "s",
    "tables.scan_tasks": "count",
    "query.build_s": "s",
    "query.build_jobs": "count",
    "query.plan_s": "s",
    "query.exec_s": "s",
    "query.jobs": "count",
    "query.stages": "count",
    "query.tasks": "count",
    "query.tasks_per_stage": "ratio",
    "exec.failed_tasks": "count",
    "exec.executor_run_s": "s",
    "exec.executor_cpu_s": "s",
    "exec.jvm_gc_s": "s",
    "exec.core_utilisation": "ratio",
    "exec.shuffle_read_bytes": "bytes",
    "exec.shuffle_write_bytes": "bytes",
    "exec.spill_bytes": "bytes",
    "exec.input_bytes": "bytes",
    "exec.python_bytes": "bytes",
    "exec.python_worker_cpu_s": "s",
    "xml.parse_s": "s",
    "xml.records_per_s": "1/s",
    "xml.ingest_s": "s",
    "lake.write_s": "s",
    "lake.files_written": "count",
    "lake.bytes_written": "bytes",
    "backfill.catalog_s": "s",
    "backfill.concurrency": "ratio",
    "lake.read_s": "s",
    "lake.files_scanned": "count",
    "lake.files_before_compact": "count",
    "lake.files_after_compact": "count",
    "lake.bytes_rewritten": "bytes",
    "lake.backfill_s": "s",
    "lake.query_s": "s",
    "lake.compact_s": "s",
    "lake.bytes_per_input_byte": "ratio",
    "failed_op_ratio": "ratio",
    "trace.overhead_s": "s",
}


def _args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True,
                   help="measuring time: passes go on at least this long, and never "
                        "stop before the workload's minimum number of warm passes")
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def _environment(trace: bool, log_dir: str) -> None:
    """Point every scratch path of Python, the JVM and Spark into WORK and
    size the session; must run before pyspark starts its JVM."""
    tmp = os.path.join(WORK, "tmp")
    for d in (tmp, os.path.join(WORK, "spark-local")):
        os.makedirs(d, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp}"
    os.environ["PYSPARK_PYTHON"] = sys.executable
    import sparkprobe

    os.environ["SPARK_GRAFT_CPUS"] = str(sparkprobe.nproc())
    submit = "pyspark-shell"
    if trace:
        shutil.rmtree(log_dir, ignore_errors=True)
        os.makedirs(log_dir)
        submit = (
            f"--conf spark.eventLog.enabled=true --conf spark.eventLog.dir=file://{log_dir} "
            "--conf spark.eventLog.compress=false --conf spark.eventLog.rolling.enabled=false "
            + submit
        )
    os.environ["PYSPARK_SUBMIT_ARGS"] = submit


def _geomean(xs):
    return math.exp(sum(math.log(x) for x in xs) / len(xs)) if xs else 0.0


def end_to_end(out) -> dict[str, float]:
    warm = out.warm_passes()
    return {
        # the session start in a cold JVM (one per process) plus the
        # median warmup over the set-ups
        "setup_s": out.sessions[0] + statistics.median(out.warmups),
        "cold_pass_s": out.passes[0],
        "warm_pass_s": statistics.median(warm),
        "warm_query_geomean_s": _geomean(
            [statistics.median(v) for v in out.op_warm.values()]
        ),
        "peak_rss_mb": out.peak_rss_mb,
    }


def result_line(values: dict[str, float], units: dict[str, str], attempted: int, failed: int) -> dict:
    return {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": float(values.get(k, 0.0)), "unit": u} for k, u in units.items()},
    }


def _untraced_baseline(workload: str, seed: int) -> float | None:
    """warm_pass_s of the same seed's untraced run, else the newest
    untraced run of the workload."""
    rdir = os.path.join(WORK, "results")
    path = os.path.join(rdir, f"{workload}-seed{seed}-trace0.json")
    if not os.path.exists(path):
        runs = glob.glob(os.path.join(rdir, f"{glob.escape(workload)}-seed*-trace0.json"))
        if not runs:
            return None
        path = max(runs, key=os.path.getmtime)
    with open(path) as f:
        return json.load(f)["metrics"]["warm_pass_s"]["value"]


def main(argv=None) -> int:
    args = _args(argv)
    if not os.path.isfile(os.path.join(ROOT, "discogs_etl_spark", "__init__.py")):
        print(f"perfbench: no discogs_etl_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path[:0] = [HERE, ROOT]
    import workloads
    from spans import Spans

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of "
              f"{sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2
    os.chdir(ROOT)
    tag = f"{args.workload}-seed{args.seed}"
    log_dir = os.path.join(WORK, "eventlog", tag)
    _environment(bool(args.trace), log_dir)
    run_id = f"{tag}-trace{args.trace}"
    ctx = workloads.Context(WORK, args.seed, args.seconds, bool(args.trace), Spans(run_id), log_dir)
    out, host = workloads.run(args.workload, ctx)

    e2e = end_to_end(out)
    failed = len(out.failures)
    detail = {
        "workload": args.workload,
        "seed": args.seed,
        "host": host,
        "passes": len(out.passes),
        "pass_s": out.passes,
        "failed_op_ratio": failed / max(1, out.attempted),
        "failed_checks": out.failures[:20],
        **out.detail,
    }
    if args.trace:
        base = _untraced_baseline(args.workload, args.seed)
        out.layers["cold_pass_s"] = e2e["cold_pass_s"]
        out.layers["peak_rss_mb"] = e2e["peak_rss_mb"]
        out.layers["failed_op_ratio"] = detail["failed_op_ratio"]
        out.layers["trace.overhead_s"] = e2e["warm_pass_s"] - base if base is not None else 0.0
        detail["trace_overhead"] = {
            "traced_warm_pass_s": e2e["warm_pass_s"],
            "untraced_warm_pass_s": base,
        }
        spans_dir = os.path.join(WORK, "spans")
        os.makedirs(spans_dir, exist_ok=True)
        detail["spans_file"] = os.path.join(spans_dir, f"{run_id}.jsonl")
        ctx.spans.write(detail["spans_file"])
        detail["end_to_end"] = e2e
        line = result_line(out.layers, PER_LAYER, out.attempted, failed)
    else:
        line = result_line(e2e, END_TO_END, out.attempted, failed)
    os.makedirs(os.path.join(WORK, "results"), exist_ok=True)
    with open(os.path.join(WORK, "results", f"{run_id}.json"), "w") as f:
        json.dump({**line, "detail": detail}, f, indent=1)
    print(json.dumps(detail, default=str))
    print(json.dumps(line))
    return 0


if __name__ == "__main__":
    sys.exit(main())
