"""Read what the engine does from outside it: host facts, resident
memory, the status tracker by job group, Spark's JSON event log, and the
JVM's lifetime."""

from __future__ import annotations

import glob
import json
import os
import subprocess
import time


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def loadavg() -> list[float]:
    return [round(x, 2) for x in os.getloadavg()]


def host_facts(spark) -> dict:
    from discogs_etl_spark.session import host_fingerprint

    sc = spark.sparkContext
    return {
        "master": sc.master,
        "default_parallelism": sc.defaultParallelism,
        "nproc": nproc(),
        "cpu_model": host_fingerprint()["cpu_model"],
    }


def jvm_pid() -> int | None:
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None) if gw is not None else None
    return proc.pid if proc is not None else None


def _status_kb(pid: int, field: str) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith(field + ":"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def peak_rss_mb() -> float:
    """VmHWM of the Spark JVM plus this Python driver, in MiB."""
    kb = _status_kb(os.getpid(), "VmHWM")
    pid = jvm_pid()
    if pid is not None:
        kb += _status_kb(pid, "VmHWM")
    return kb / 1024.0


def _cpu_ticks(pid: int) -> int:
    """utime + stime of a process plus those of its reaped children."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            fields = f.read().rsplit(")", 1)[1].split()
        return sum(int(x) for x in fields[11:15])
    except (OSError, IndexError, ValueError):
        return 0


def python_worker_cpu_s() -> float:
    """CPU seconds used so far by the processes the Spark JVM started:
    the PySpark daemon and its Python workers (live ones directly, exited
    ones through the daemon's reaped-children times)."""
    pid = jvm_pid()
    if pid is None:
        return 0.0
    return sum(_cpu_ticks(p) for p in _descendants(pid)) / os.sysconf("SC_CLK_TCK")


def _descendants(pid: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for stat in glob.glob("/proc/[0-9]*/stat"):
        try:
            with open(stat) as f:
                fields = f.read().rsplit(")", 1)[1].split()
            children.setdefault(int(fields[1]), []).append(int(stat.split("/")[2]))
        except (OSError, IndexError, ValueError):
            continue
    out, todo = [], [pid]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def shutdown(spark) -> None:
    """Stop the session, end the JVM gateway and wait until the JVM and
    every process it started (Python workers) are gone."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None) if gw is not None else None
    if proc is None:
        return
    spawned = _descendants(proc.pid)
    gw.shutdown()
    proc.stdin.close()  # the gateway JVM exits when its stdin closes
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
    deadline = time.time() + 20
    for pid in spawned:
        while os.path.exists(f"/proc/{pid}") and time.time() < deadline:
            time.sleep(0.05)
        if os.path.exists(f"/proc/{pid}"):
            try:
                os.kill(pid, 9)
            except OSError:
                pass
    SparkContext._gateway = None
    SparkContext._jvm = None


def group_counts(sc, group: str) -> dict[str, int]:
    """Jobs, stages that ran, tasks and failed tasks of one job group,
    from the status tracker."""
    st = sc.statusTracker()
    jobs = st.getJobIdsForGroup(group)
    stages = tasks = failed = 0
    for jid in jobs:
        info = st.getJobInfo(jid)
        for sid in info.stageIds if info else ():
            s = st.getStageInfo(sid)
            if s is None or s.numCompletedTasks + s.numFailedTasks == 0:
                continue  # skipped (reused shuffle output) or not retained
            stages += 1
            tasks += s.numCompletedTasks
            failed += s.numFailedTasks
    return {"jobs": len(jobs), "stages": stages, "tasks": tasks, "failed_tasks": failed}


class EventLog:
    """Task, job and SQL-metric records of one application's JSON event
    log, attributable to wall-clock windows (epoch seconds)."""

    def __init__(self, path: str):
        self.job_time: dict[int, float] = {}  # job id → submission (s)
        self.stage_job: dict[int, int] = {}
        self.tasks: list[dict] = []  # (stage, task metrics, accumulables)
        self.exec_time: dict[int, float] = {}  # SQL execution id → start (s)
        self.metric_name: dict[int, str] = {}  # accumulator id → SQL metric name
        self.driver_updates: list[tuple[int, int, float]] = []  # (exec id, acc id, value)
        with open(path) as f:
            for line in f:
                self._add(json.loads(line))

    @classmethod
    def latest(cls, log_dir: str) -> "EventLog":
        files = [p for p in glob.glob(os.path.join(log_dir, "*")) if os.path.isfile(p)]
        return cls(max(files, key=os.path.getmtime))

    def _plan_metrics(self, info: dict) -> None:
        for m in info.get("metrics", ()):
            self.metric_name[m["accumulatorId"]] = m["name"]
        for child in info.get("children", ()):
            self._plan_metrics(child)

    def _add(self, ev: dict) -> None:
        kind = ev.get("Event", "")
        if kind == "SparkListenerJobStart":
            self.job_time[ev["Job ID"]] = ev["Submission Time"] / 1000.0
            for sid in ev.get("Stage IDs", ()):
                self.stage_job[sid] = ev["Job ID"]
        elif kind == "SparkListenerTaskEnd":
            info = ev.get("Task Info", {})
            self.tasks.append(
                {
                    "stage": ev["Stage ID"],
                    "failed": bool(info.get("Failed")),
                    "metrics": ev.get("Task Metrics") or {},
                    "acc": [
                        (a.get("Name"), a.get("Update"))
                        for a in info.get("Accumulables", ())
                    ],
                }
            )
        elif kind.endswith("SparkListenerSQLExecutionStart"):
            self.exec_time[ev["executionId"]] = ev["time"] / 1000.0
            self._plan_metrics(ev.get("sparkPlanInfo", {}))
        elif kind.endswith("SparkListenerSQLAdaptiveExecutionUpdate"):
            self._plan_metrics(ev.get("sparkPlanInfo", {}))
        elif kind.endswith("SparkListenerDriverAccumUpdates"):
            for acc_id, value in ev.get("accumUpdates", ()):
                self.driver_updates.append((ev["executionId"], acc_id, value))

    @staticmethod
    def _inside(t: float, windows: list[tuple[float, float]]) -> bool:
        return any(lo - 0.002 <= t <= hi + 0.002 for lo, hi in windows)

    def task_totals(self, windows: list[tuple[float, float]]) -> dict[str, float]:
        """Executor-side totals over tasks of jobs submitted in ``windows``."""
        tot = dict.fromkeys(
            ("run_s", "cpu_s", "gc_s", "shuffle_read", "shuffle_write", "spill",
             "input", "python_bytes", "failed_tasks"), 0.0)
        for t in self.tasks:
            job = self.stage_job.get(t["stage"])
            if job is None or not self._inside(self.job_time[job], windows):
                continue
            m = t["metrics"]
            sr = m.get("Shuffle Read Metrics", {})
            tot["run_s"] += m.get("Executor Run Time", 0) / 1e3
            tot["cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
            tot["gc_s"] += m.get("JVM GC Time", 0) / 1e3
            tot["shuffle_read"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
            tot["shuffle_write"] += m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0)
            tot["spill"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
            tot["input"] += m.get("Input Metrics", {}).get("Bytes Read", 0)
            tot["python_bytes"] += sum(
                float(u or 0) for name, u in t["acc"] if name == "data sent to Python workers"
            )
            tot["failed_tasks"] += t["failed"]
        return tot

    def driver_metric(self, name: str, windows: list[tuple[float, float]]) -> float:
        """Sum of a driver-side SQL metric (e.g. "number of files read") over
        SQL executions started in ``windows``."""
        return sum(
            float(v)
            for ex, acc, v in self.driver_updates
            if self.metric_name.get(acc) == name
            and self._inside(self.exec_time.get(ex, -1.0), windows)
        )
