"""Shared machinery for the benchmark workloads.

- ``Workspace``: a private directory inside the checkout that holds every
  store, remote, cache, Spark scratch dir and event log of one run, and is
  removed at exit.
- ``start_spark`` / ``stop_spark``: the session a user of ``pufs_spark`` gets
  from ``get_spark``, pinned to ``local[min(nproc, 4)]``, with the console
  progress bar off and, in traced runs, Spark's event log on.
- ``Ops``: closed-loop operation accounting. Every operation that raises is
  counted as failed and the run goes on; correctness problems are collected
  separately and make the record say ``"correct": false``.
- ``Tracer``: in traced runs, one span per layer call (name, start, end,
  parent) kept in memory and written out at exit, plus a Spark job group per
  operation so the event log attributes jobs, stages and tasks to it.
"""

from __future__ import annotations

import contextlib
import glob
import json
import math
import os
import resource
import shutil
import sys
import tempfile
import time
import traceback
from collections import defaultdict
from statistics import median

CPUS = min(os.cpu_count() or 1, 4)
WARMUP = "w1"  # round label of the untimed warm-up; timed rounds are t1, t2, ...


class Workspace:
    """Private per-run directory under ``perfbench/.work`` in the checkout."""

    def __init__(self, checkout: str):
        self.base = os.path.join(checkout, "perfbench", ".work")
        os.makedirs(self.base, exist_ok=True)
        self.dir = tempfile.mkdtemp(prefix=f"run-{os.getpid()}-", dir=self.base)
        # Python-side temp files (the package zip get_spark ships to the
        # executors among them) stay inside the workspace too.
        tmp = self.path("tmp")
        os.environ["TMPDIR"] = tmp
        tempfile.tempdir = tmp

    def path(self, name: str) -> str:
        """A directory of the workspace, created on first use."""
        p = os.path.join(self.dir, name)
        os.makedirs(p, exist_ok=True)
        return p

    def close(self) -> None:
        shutil.rmtree(self.dir, ignore_errors=True)
        with contextlib.suppress(OSError):
            os.rmdir(self.base)  # only when no other run is using it


def start_spark(ws: Workspace, app: str, trace: bool, input_bytes: int | None):
    from pufs_spark.session import get_spark

    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": ws.path("spark-local"),
        "spark.sql.warehouse.dir": ws.path("warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={ws.path('tmp')}",
    }
    # no JVM (Spark's launcher included) writes hsperfdata to the system
    # temp dir
    os.environ["JAVA_TOOL_OPTIONS"] = "-XX:-UsePerfData"
    if trace:
        conf["spark.eventLog.enabled"] = "true"
        conf["spark.eventLog.dir"] = "file://" + ws.path("events")
        conf["spark.eventLog.compress"] = "false"
    return get_spark(
        app_name=f"perfbench-{app}", cpus=CPUS, extra_conf=conf,
        input_bytes=input_bytes,
    )


def jvm_pid() -> int | None:
    from pyspark import SparkContext

    proc = getattr(SparkContext._gateway, "proc", None)
    return proc.pid if proc is not None else None


def peak_rss_mb() -> float:
    """Peak resident set of the driver Python process plus the JVM."""
    kib = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    pid = jvm_pid()
    if pid is not None:
        with contextlib.suppress(OSError), open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    kib += int(line.split()[1])
    return kib / 1024.0


def stop_spark(spark) -> None:
    """Stop the session and wait until the JVM (and with it the Python
    workers it started) has exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    with contextlib.suppress(Exception):
        gateway.shutdown()
    if proc is not None:
        with contextlib.suppress(Exception):
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001 - last resort: never leave it running
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


class Tracer:
    """Spans and job groups; every method is a no-op when tracing is off."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spark = None
        self.spans: list[dict] = []
        self._stack: list[tuple[int, str | None]] = []  # (span id, group)
        self._next_id = 0

    @contextlib.contextmanager
    def span(self, name: str, group: str | None = None):
        if not self.enabled:
            yield
            return
        sid = self._next_id
        self._next_id += 1
        parent, outer = self._stack[-1] if self._stack else (None, None)
        if group is None:
            group = outer  # a layer call belongs to the operation around it
        elif self.spark is not None:
            self.spark.sparkContext.setJobGroup(group, name)
        self._stack.append((sid, group))
        start = time.time()
        try:
            yield
        finally:
            self._stack.pop()
            self.spans.append({"id": sid, "name": name, "parent": parent,
                               "group": group, "start": start, "end": time.time()})
            if group != outer and self.spark is not None:
                # jobs the benchmark's own checks run belong to no operation
                self.spark.sparkContext.setJobGroup("harness", "checks")

    def span_seconds(self, name: str, prefix: str = "") -> list[float]:
        """Durations of every span called ``name`` whose group starts with
        ``prefix`` (timed rounds are groups ``t<k>/...``)."""
        return [s["end"] - s["start"] for s in self.spans
                if s["name"] == name and (s["group"] or "").startswith(prefix)]

    def write(self, path: str, extra: dict) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump({"spans": self.spans, **extra}, f)


def tree_cpu_s() -> float:
    """CPU seconds used so far by this process and every process below it
    (the Spark JVM and its Python workers), children they reaped included."""
    me = os.getpid()
    procs: dict[int, tuple[int, int]] = {}  # pid -> (ppid, clock ticks)
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                # fields after the command name: state, ppid, ... utime (12th),
                # stime, cutime, cstime
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        procs[int(d)] = (int(fields[1]), sum(int(x) for x in fields[11:15]))
    children: dict[int, list[int]] = defaultdict(list)
    for pid, (ppid, _) in procs.items():
        children[ppid].append(pid)
    ticks, stack = 0, [me]
    while stack:
        pid = stack.pop()
        ticks += procs.get(pid, (0, 0))[1]
        stack.extend(children[pid])
    return ticks / os.sysconf("SC_CLK_TCK")


class Ops:
    """Closed-loop accounting of operations and correctness checks."""

    def __init__(self, tracer: Tracer):
        self.tracer = tracer
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []
        # walls[round][op] = seconds, cpu[round][op] = CPU seconds
        self.walls: dict[str, dict[str, float]] = defaultdict(dict)
        self.cpu: dict[str, dict[str, float]] = defaultdict(dict)

    def run(self, rnd: str, op: str, fn):
        """Run one operation; returns (ok, value)."""
        self.attempted += 1
        c0 = tree_cpu_s()
        t0 = time.perf_counter()
        try:
            with self.tracer.span(op, group=f"{rnd}/{op}"):
                value = fn()
        except Exception:  # noqa: BLE001 - counted as failed, the run goes on
            self.failed += 1
            print(f"perfbench: operation {rnd}/{op} failed", file=sys.stderr)
            traceback.print_exc(file=sys.stderr)
            return False, None
        self.walls[rnd][op] = time.perf_counter() - t0
        self.cpu[rnd][op] = tree_cpu_s() - c0
        return True, value

    def check(self, ok: bool, what: str) -> None:
        if not ok:
            self.problems.append(what)
            print(f"perfbench: CHECK FAILED: {what}", file=sys.stderr)

    def timed_rounds(self) -> list[str]:
        return [r for r in self.walls if r.startswith("t")]

    def op_medians(self, what: str = "walls") -> dict[str, float]:
        """Per operation, the median wall (or CPU) over the timed rounds."""
        per_op: dict[str, list[float]] = defaultdict(list)
        for r in self.timed_rounds():
            for op, w in getattr(self, what)[r].items():
                per_op[op].append(w)
        return {op: median(ws) for op, ws in per_op.items()}


def timed_loop(seconds: float, body, min_rounds: int = 1) -> None:
    """Run ``body(label)`` for whole rounds until ``seconds`` have passed
    and at least ``min_rounds`` rounds have run."""
    t0 = time.perf_counter()
    k = 0
    while True:
        k += 1
        body(f"t{k}")
        if k >= min_rounds and time.perf_counter() - t0 >= seconds:
            return


# ---------------------------------------------------------------------------
# Spark event log (traced runs)
# ---------------------------------------------------------------------------


def _union_seconds(intervals: list[tuple[float, float]]) -> float:
    total = 0.0
    end = -math.inf
    for s, e in sorted(intervals):
        if e <= end:
            continue
        total += e - max(s, end)
        end = e
    return total


def parse_event_log(events_dir: str) -> dict[str, dict]:
    """Per job group: jobs, tasks, empty tasks (no input rows and no shuffle
    records read), shuffle bytes written, executor run and CPU seconds, and
    the wall covered by the group's jobs."""
    jobs: dict[int, dict] = {}
    stage_group: dict[int, str] = {}
    groups: dict[str, dict] = defaultdict(lambda: {
        "jobs": 0, "tasks": 0, "empty_tasks": 0, "shuffle_bytes": 0,
        "executor_run_s": 0.0, "executor_cpu_s": 0.0, "intervals": []})
    # Spark 4 writes a directory per application with rolled "events_*" files
    for path in sorted(glob.glob(os.path.join(events_dir, "*", "events_*"))):
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    g = (ev.get("Properties") or {}).get("spark.jobGroup.id") or "-"
                    jobs[ev["Job ID"]] = {"group": g, "start": ev["Submission Time"]}
                    groups[g]["jobs"] += 1
                    for sid in ev.get("Stage IDs", []):
                        stage_group[sid] = g
                elif kind == "SparkListenerJobEnd":
                    job = jobs.get(ev["Job ID"])
                    if job is not None:
                        groups[job["group"]]["intervals"].append(
                            (job["start"] / 1000.0, ev["Completion Time"] / 1000.0))
                elif kind == "SparkListenerTaskEnd":
                    g = groups[stage_group.get(ev["Stage ID"], "-")]
                    m = ev.get("Task Metrics") or {}
                    rows_in = (m.get("Input Metrics") or {}).get("Records Read", 0)
                    shuffle_in = (m.get("Shuffle Read Metrics") or {}).get(
                        "Total Records Read", 0)
                    g["tasks"] += 1
                    g["empty_tasks"] += int(rows_in == 0 and shuffle_in == 0)
                    g["shuffle_bytes"] += (m.get("Shuffle Write Metrics") or {}).get(
                        "Shuffle Bytes Written", 0)
                    g["executor_run_s"] += m.get("Executor Run Time", 0) / 1e3
                    g["executor_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
    out = {}
    for name, g in groups.items():
        g["spark_job_s"] = _union_seconds(g.pop("intervals"))
        out[name] = g
    return out


SPARK_KEYS = ("jobs", "tasks", "empty_tasks", "shuffle_bytes",
              "executor_run_s", "executor_cpu_s", "spark_job_s")


def round_spark_totals(groups: dict[str, dict], rounds: list[str]) -> list[dict]:
    """Each round's Spark totals over the job groups of its operations."""
    per_round = []
    for r in rounds:
        tot = dict.fromkeys(SPARK_KEYS, 0.0)
        for name, g in groups.items():
            if name.startswith(r + "/"):
                for k in SPARK_KEYS:
                    tot[k] += g[k]
        per_round.append(tot)
    return per_round


def op_spark_counts(groups: dict[str, dict], rounds: list[str], op: str) -> dict:
    """Median over the timed rounds of one operation's jobs and tasks."""
    rows = [groups.get(f"{r}/{op}", {"jobs": 0, "tasks": 0}) for r in rounds]
    return {"jobs": median([g["jobs"] for g in rows]),
            "tasks": median([g["tasks"] for g in rows])}
