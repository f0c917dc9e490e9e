"""Shared pieces of the benchmark: run isolation, spans, statistics,
Spark event-log parsing and the result line.

Nothing here imports pyspark at module level, so the data generators and
the self-tests can use it without a JVM.
"""

from __future__ import annotations

import glob
import json
import os
import re
import shutil
import statistics
import subprocess
import threading
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass, field

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
REPO_ROOT = os.path.dirname(BENCH_DIR)
#: Byte copies of the project's test data (see data/SHA256SUMS).
DATA_DIR = os.path.join(BENCH_DIR, "data")
RUNS_DIR = os.path.join(REPO_ROOT, ".bench_run")

#: local[N] never exceeds this many cores, whatever the host has, so that
#: runs on different hosts measure the same executor width.
MAX_CPUS = 4


def cpus() -> int:
    """N for local[N]: $SPARK_GRAFT_CPUS (default 4), capped at nproc."""
    want = int(os.environ.get("SPARK_GRAFT_CPUS", MAX_CPUS))
    return max(1, min(want, MAX_CPUS, os.cpu_count() or 1))


@dataclass
class RunEnv:
    """One run's private directories, all inside the checkout."""

    workload: str
    seed: int
    root: str = ""

    def __post_init__(self) -> None:
        self.root = os.path.join(RUNS_DIR, f"{self.workload}-s{self.seed}-p{os.getpid()}")

    def path(self, *parts: str) -> str:
        return os.path.join(self.root, *parts)

    def activate(self) -> None:
        """Start from an empty scratch root and point every temp-dir user
        at it: the package's fingerprint-cached fixtures live under
        ``tempfile.gettempdir()``, so they are rebuilt inside each run's
        set-up. Must run before anything calls ``tempfile.gettempdir()``
        and before the JVM starts (workers inherit the environment)."""
        shutil.rmtree(self.root, ignore_errors=True)
        for sub in ("tmp", "spark-local", "work", "eventlog"):
            os.makedirs(self.path(sub))
        os.environ["TMPDIR"] = self.path("tmp")
        os.environ["SPARK_LOCAL_DIRS"] = self.path("spark-local")
        # the JVM's own temp files too; no hsperfdata file under /tmp
        os.environ["JAVA_TOOL_OPTIONS"] = " ".join(
            [os.environ.get("JAVA_TOOL_OPTIONS", ""), "-XX:-UsePerfData",
             f"-Djava.io.tmpdir={self.path('tmp')}"]
        ).strip()
        os.environ["SPARK_GRAFT_CPUS"] = str(cpus())
        # Python workers import flink_quickstart_spark: they must find it
        # whatever the launching directory is.
        paths = [REPO_ROOT] + [
            p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p
        ]
        os.environ["PYTHONPATH"] = os.pathsep.join(dict.fromkeys(paths))

    def reset_work(self) -> None:
        """Empty the per-set-up directories (fixtures, inputs, spill)."""
        for sub in ("tmp", "work", "spark-local"):
            shutil.rmtree(self.path(sub), ignore_errors=True)
            os.makedirs(self.path(sub))

    def cleanup(self) -> None:
        shutil.rmtree(self.root, ignore_errors=True)
        try:
            os.rmdir(RUNS_DIR)
        except OSError:
            pass  # other runs' files or the trace output remain


# --- spans -----------------------------------------------------------------


class Tracer:
    """Spans around the benchmark's calls into each layer.

    Every span is timed (the workloads read durations from it); spans are
    only kept when tracing is on. A span records name, start, end, its
    parent span and the trace id shared by one pass or micro-batch. Spans
    stay in memory and are written once, by :meth:`dump`."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[dict] = []
        self._local = threading.local()
        self._lock = threading.Lock()

    @contextmanager
    def span(self, name: str, trace: str | None = None, **attrs):
        stack = self._local.__dict__.setdefault("stack", [])
        parent = stack[-1] if stack else None
        rec = {
            "name": name,
            "parent": parent["id"] if parent else None,
            "trace": trace if trace is not None else (parent or {}).get("trace"),
            **attrs,
        }
        if self.enabled:
            with self._lock:
                rec["id"] = len(self.spans)
                self.spans.append(rec)
        else:
            rec["id"] = None
        stack.append(rec)
        rec["start"] = time.time()
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            rec["dur"] = rec["end"] - rec["start"]
            stack.pop()

    def self_times(self) -> dict[str, float]:
        """Total self time per span name: duration minus the part of the
        interval its child spans cover."""
        children: dict[int, list[dict]] = defaultdict(list)
        for s in self.spans:
            if s["parent"] is not None:
                children[s["parent"]].append(s)
        out: dict[str, float] = defaultdict(float)
        for s in self.spans:
            covered = union_length([(c["start"], c["end"]) for c in children[s["id"]]])
            out[s["name"]] += s["dur"] - covered
        return dict(out)

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump(self.spans, fh)


# --- statistics --------------------------------------------------------------


def median(values) -> float:
    return float(statistics.median(values))


def interquartile_mean(values) -> float:
    """Mean of the middle half of ``values`` (a quarter cut from each
    end, rounded down; all of them when fewer than four)."""
    ordered = sorted(values)
    cut = len(ordered) // 4
    return float(statistics.fmean(ordered[cut : len(ordered) - cut]))


def union_length(intervals) -> float:
    """Length of the union of (start, end) intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def tail_percentile(values, beyond: int = 10) -> tuple[float, float] | None:
    """The highest percentile that still has ``beyond`` samples above it,
    as (percentile, value); None when the sample is too small for that
    percentile to lie above the median."""
    n = len(values)
    if n <= 2 * beyond:
        return None
    ordered = sorted(values)
    idx = n - beyond - 1
    return 100.0 * (idx + 1) / n, float(ordered[idx])


# --- Spark event log ---------------------------------------------------------

_BATCH_RE = re.compile(r"batch = (\d+)")


@dataclass
class JobInfo:
    job_id: int
    group: str | None
    batch: int | None  # streaming micro-batch id, from the job description
    submit: float  # epoch seconds
    end: float = 0.0
    stages: list[int] = field(default_factory=list)


@dataclass
class StageTotals:
    tasks: int = 0
    run_s: float = 0.0
    cpu_s: float = 0.0
    gc_s: float = 0.0
    shuffle_write: int = 0
    shuffle_read: int = 0
    input_bytes: int = 0
    py_boot_s: float = 0.0
    py_run_s: float = 0.0
    py_sent: int = 0


# Python-worker SQL metrics as the event log records them (times in ms).
_PY_ACCUMS = {
    "time to start Python workers": ("py_boot_s", 1e-3),
    "time to run Python workers": ("py_run_s", 1e-3),
    "data sent to Python workers": ("py_sent", 1),
}


def read_event_log(log_dir: str) -> tuple[dict[int, JobInfo], dict[int, StageTotals]]:
    """Jobs and per-stage task totals of the most recent application in
    an uncompressed event-log directory."""
    apps = sorted(glob.glob(os.path.join(log_dir, "*")), key=os.path.getmtime)
    if not apps:
        return {}, {}
    app = apps[-1]
    files = sorted(glob.glob(os.path.join(app, "events_*"))) if os.path.isdir(app) else [app]
    jobs: dict[int, JobInfo] = {}
    stages: dict[int, StageTotals] = defaultdict(StageTotals)
    for fn in files:
        with open(fn) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev["Event"]
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    m = _BATCH_RE.search(props.get("spark.job.description") or "")
                    jobs[ev["Job ID"]] = JobInfo(
                        job_id=ev["Job ID"],
                        group=props.get("spark.jobGroup.id"),
                        batch=int(m.group(1)) if m else None,
                        submit=ev["Submission Time"] / 1000.0,
                        stages=list(ev.get("Stage IDs") or []),
                    )
                elif kind == "SparkListenerJobEnd" and ev["Job ID"] in jobs:
                    jobs[ev["Job ID"]].end = ev["Completion Time"] / 1000.0
                elif kind == "SparkListenerTaskEnd":
                    st = stages[ev["Stage ID"]]
                    tm = ev.get("Task Metrics") or {}
                    st.tasks += 1
                    st.run_s += tm.get("Executor Run Time", 0) / 1e3
                    st.cpu_s += tm.get("Executor CPU Time", 0) / 1e9
                    st.gc_s += tm.get("JVM GC Time", 0) / 1e3
                    sr = tm.get("Shuffle Read Metrics") or {}
                    st.shuffle_read += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
                    st.shuffle_write += (tm.get("Shuffle Write Metrics") or {}).get(
                        "Shuffle Bytes Written", 0
                    )
                    st.input_bytes += (tm.get("Input Metrics") or {}).get("Bytes Read", 0)
                    for acc in (ev.get("Task Info") or {}).get("Accumulables") or []:
                        hit = _PY_ACCUMS.get(acc.get("Name"))
                        if hit and acc.get("Update") is not None:
                            attr, scale = hit
                            setattr(st, attr, getattr(st, attr) + float(acc["Update"]) * scale)
    return jobs, dict(stages)


def job_totals(jobs: list[JobInfo], stages: dict[int, StageTotals]) -> dict[str, float]:
    """Work counters summed over ``jobs`` (each stage counted once)."""
    seen: set[int] = set()
    out = defaultdict(float)
    out["jobs"] = len(jobs)
    for j in jobs:
        for sid in j.stages:
            if sid in seen or sid not in stages:
                continue  # skipped stages (reused shuffle output) ran no tasks
            seen.add(sid)
            st = stages[sid]
            out["stages"] += 1
            for name in StageTotals.__dataclass_fields__:
                out[name] += getattr(st, name)
    return dict(out)


# --- processes -------------------------------------------------------------------


def _proc_table() -> dict[int, tuple[int, str, str]]:
    """pid -> (parent pid, state, start time) of every live process."""
    out = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                # the command name may hold spaces and parentheses
                rest = fh.read().rsplit(")", 1)[1].split()
        except (OSError, IndexError):
            continue  # ended while the table was read
        out[int(name)] = (int(rest[1]), rest[0], rest[19])
    return out


def descendants(root: int | None = None) -> dict[int, str]:
    """pid -> start time of every live, non-zombie process below ``root``
    (default: this process)."""
    table = _proc_table()
    kids: dict[int, list[int]] = defaultdict(list)
    for pid, (ppid, _, _) in table.items():
        kids[ppid].append(pid)
    out, todo = {}, list(kids[root or os.getpid()])
    while todo:
        pid = todo.pop()
        todo += kids[pid]
        if table[pid][1] != "Z":
            out[pid] = table[pid][2]
    return out


def _still_running(procs: dict[int, str]) -> dict[int, str]:
    table = _proc_table()
    return {
        pid: start
        for pid, start in procs.items()
        if pid in table and table[pid][2] == start and table[pid][1] != "Z"
    }


def _end(procs: dict[int, str], grace_s: float) -> None:
    """Wait up to ``grace_s`` for ``procs`` to end, then SIGTERM and
    finally SIGKILL the ones left, and wait until all have ended."""
    import signal

    deadline = time.time() + grace_s
    for sig in (None, signal.SIGTERM, signal.SIGKILL):
        if sig is not None:
            for pid in _still_running(procs):
                try:
                    os.kill(pid, sig)
                except ProcessLookupError:
                    pass
            deadline = time.time() + 5.0
        while _still_running(procs) and time.time() < deadline:
            time.sleep(0.05)
        if not _still_running(procs):
            return


def stop_engine() -> None:
    """Stop the Spark session and the JVM behind it, and wait until the
    JVM and every process below this one have ended.

    ``SparkSession.stop`` leaves the gateway JVM running; it only exits
    when this process's end closes its stdin, which would let it outlive
    the run. The Python workers end first, while the JVM can still reap
    them; then the JVM is told to exit and waited for."""
    from pyspark import SparkContext
    from pyspark.sql import SparkSession

    try:
        active = SparkSession.getActiveSession()
        if active is not None:
            active.stop()
    finally:
        gateway = SparkContext._gateway
        jvm = getattr(gateway, "proc", None)
        if jvm is not None:
            _end(descendants(jvm.pid), 10.0)
            jvm.stdin.close()  # the JVM exits at end of input
            try:
                jvm.wait(timeout=60)
            except subprocess.TimeoutExpired:
                jvm.kill()
                jvm.wait()
            SparkContext._gateway = SparkContext._jvm = None
        _end(descendants(), 10.0)


# --- host / versions ------------------------------------------------------------


def loadavg() -> str:
    try:
        return " ".join(f"{x:.2f}" for x in os.getloadavg())
    except OSError:
        return "n/a"


def host_cpu() -> dict[str, float]:
    """Host-wide CPU seconds since boot from /proc/stat: ``busy`` (user,
    nice, system, irq, softirq) and ``steal`` (time the hypervisor ran
    something else while a CPU of this machine was runnable)."""
    with open("/proc/stat") as fh:
        f = [int(x) for x in fh.readline().split()[1:]]
    hz = os.sysconf("SC_CLK_TCK")
    return {"busy": (f[0] + f[1] + f[2] + f[5] + f[6]) / hz, "steal": f[7] / hz}


def jvm_peak_rss_mb(spark) -> float:
    """VmHWM of the driver JVM (the whole local-mode engine)."""
    pid = spark.sparkContext._jvm.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("VmHWM not found")


def versions() -> dict[str, str]:
    import duckdb
    import pyarrow
    import pyspark

    return {
        "spark": pyspark.__version__,
        "duckdb": duckdb.__version__,
        "pyarrow": pyarrow.__version__,
    }


# --- result line -------------------------------------------------------------------


def result_line(correct: bool, attempted: int, failed: int, metrics: dict, units: dict) -> str:
    return json.dumps(
        {
            "correct": bool(correct),
            "attempted": int(attempted),
            "failed": int(failed),
            "metrics": {
                name: {"value": float(metrics[name]), "unit": units[name]} for name in units
            },
        }
    )


def declared_metrics() -> tuple[dict[str, str], dict[str, str]]:
    """(end_to_end, per_layer) name -> unit, from BENCHMARK.json."""
    with open(os.path.join(REPO_ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    e2e = {m["name"]: m["unit"] for m in spec["end_to_end"]}
    layer = {m["name"]: m["unit"] for m in spec["per_layer"]}
    return e2e, layer
