"""Measurement plumbing: spans, process-tree RSS sampling, Spark event-log
and executed-plan counters, and process cleanup.

Everything here observes the engine from outside: spans wrap calls into
the engine's public functions, RSS comes from ``/proc``, and the Spark
counters come from the event log Spark writes itself.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import re
import signal
import subprocess
import threading
import time
from collections import defaultdict

PAGE_MB = os.sysconf("SC_PAGE_SIZE") / 1e6


# --- spans --------------------------------------------------------------------
class Tracer:
    """In-memory span recorder: (name, start, end, parent, rep).  Disabled
    tracers hand out a no-op context, so untraced runs pay nothing."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.rep: str | None = None

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        idx = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        rec = {"name": name, "start": time.perf_counter(), "end": None,
               "parent": parent, "rep": self.rep}
        self.spans.append(rec)
        self._stack.append(idx)
        try:
            yield
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def self_times(self, rep: str) -> dict[str, float]:
        """Per-name self time (span minus its children) within one rep."""
        child_sum: dict[int, float] = defaultdict(float)
        for s in self.spans:
            if s["rep"] == rep and s["parent"] is not None:
                child_sum[s["parent"]] += s["end"] - s["start"]
        out: dict[str, float] = defaultdict(float)
        for i, s in enumerate(self.spans):
            if s["rep"] == rep:
                out[s["name"]] += (s["end"] - s["start"]) - child_sum[i]
        return dict(out)

    def durations(self, rep: str) -> dict[str, float]:
        """Per-name total span time within one rep."""
        out: dict[str, float] = defaultdict(float)
        for s in self.spans:
            if s["rep"] == rep:
                out[s["name"]] += s["end"] - s["start"]
        return dict(out)

    def dump(self, path: str) -> None:
        t0 = min((s["start"] for s in self.spans), default=0.0)
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps({**s, "start": s["start"] - t0, "end": s["end"] - t0}) + "\n")


# --- process tree ---------------------------------------------------------------
def _proc_table() -> dict[int, tuple[int, int]]:
    """pid -> (ppid, rss_pages) for every live process."""
    table = {}
    for pid_s in os.listdir("/proc"):
        if not pid_s.isdigit():
            continue
        try:
            with open(f"/proc/{pid_s}/stat") as f:
                rest = f.read().rsplit(")", 1)[1].split()
        except (OSError, IndexError):
            continue
        table[int(pid_s)] = (int(rest[1]), int(rest[21]))
    return table


def descendants(table: dict[int, tuple[int, int]] | None = None, root: int | None = None) -> list[int]:
    """Pids of every live descendant of ``root`` (default: this process)."""
    table = _proc_table() if table is None else table
    children: dict[int, list[int]] = defaultdict(list)
    for pid, (ppid, _) in table.items():
        children[ppid].append(pid)
    out, stack = [], list(children[os.getpid() if root is None else root])
    while stack:
        p = stack.pop()
        out.append(p)
        stack.extend(children[p])
    return out


def tree_rss_mb() -> float:
    table = _proc_table()
    pids = [os.getpid(), *descendants(table)]
    return sum(table[p][1] for p in pids if p in table) * PAGE_MB


class RssSampler:
    """Background sampler of this process tree's RSS (the JVM plus
    Python workers).  Sampling is switched on only around timed reps."""

    def __init__(self, period_s: float = 0.1):
        self.period_s = period_s
        self.peak_mb = 0.0
        self._on = threading.Event()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()

    def _loop(self):
        while not self._stop.is_set():
            if self._on.wait(0.2):
                self.peak_mb = max(self.peak_mb, tree_rss_mb())
                self._stop.wait(self.period_s)

    @contextlib.contextmanager
    def sampling(self):
        self._on.set()
        try:
            yield
        finally:
            self.peak_mb = max(self.peak_mb, tree_rss_mb())
            self._on.clear()

    def close(self):
        self._stop.set()
        self._thread.join()


def stop_processes(spark) -> None:
    """Stop the session, the py4j gateway JVM and every process it started
    (Python worker daemons), and wait until each has ended."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    kids = descendants(root=proc.pid) if proc is not None else []
    if spark is not None:
        spark.stop()
    if gateway is not None:
        gateway.shutdown()
        if proc is not None:
            with contextlib.suppress(OSError):
                proc.stdin.close()  # the gateway JVM exits at EOF on stdin
            try:
                proc.wait(timeout=15)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        SparkContext._gateway = None
        SparkContext._jvm = None
    deadline = time.time() + 15
    for pid in kids:
        while _alive(pid) and time.time() < deadline:
            time.sleep(0.05)
        if _alive(pid):
            with contextlib.suppress(ProcessLookupError):
                os.kill(pid, signal.SIGKILL)
            with contextlib.suppress(ChildProcessError, OSError):
                os.waitpid(pid, 0)
            while _alive(pid) and time.time() < deadline + 5:
                time.sleep(0.05)


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            state = f.read().rsplit(")", 1)[1].split()[0]
    except (OSError, IndexError):
        return False
    if state == "Z":  # our own exited child: reap it
        with contextlib.suppress(ChildProcessError, OSError):
            os.waitpid(pid, os.WNOHANG)
        return False
    return True


# --- executed-plan counters -------------------------------------------------------
_PY_NODE = re.compile(
    r"^(MapInPandas|MapInArrow|PythonMapInArrow|ArrowEvalPython|BatchEvalPython|"
    r"FlatMapGroupsInPandas|FlatMapCoGroupsInPandas|AggregateInPandas|"
    r"ArrowWindowPython|WindowInPandas|FlatMapGroupsInArrow)\b"
)
_EXCHANGE = re.compile(r"^(Exchange|ShuffleExchange|BroadcastExchange)\b")


def executed_plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def plan_counts(text: str) -> tuple[int, int]:
    """(Exchange nodes, Python exec nodes) in an executed plan's text, cached
    sub-plans included, AQE initial plans excluded.  The benchmark's own
    digest aggregate adds one ``Exchange SinglePartition`` at the top; it is
    not counted."""
    exchanges = python = 0
    skip_at = None
    own_digest_seen = False
    for line in text.splitlines():
        body = line.lstrip(" :+-|")
        indent = len(line) - len(body)
        if skip_at is not None:
            if indent >= skip_at:  # the initial plan's subtree
                continue
            skip_at = None
        if "== Initial Plan ==" in body:
            skip_at = indent
            continue
        body = re.sub(r"^\*\(\d+\)\s*", "", body)
        if _EXCHANGE.match(body):
            if not own_digest_seen and body.startswith("Exchange SinglePartition"):
                own_digest_seen = True
                continue
            exchanges += 1
        elif _PY_NODE.match(body):
            python += 1
    return exchanges, python


# --- event log ----------------------------------------------------------------
_PY_METRICS = {
    "data sent to Python workers": "python.data_sent_mb",
    "data returned from Python workers": "python.data_received_mb",
    "time to start Python workers": "python.boot_s",
    "time to initialize Python workers": "python.init_s",
    "time to run Python workers": "python.total_s",
}


def _walk_plan(info: dict, out: dict[int, str]) -> None:
    """accumulatorId -> python metric key, for metrics of Python exec nodes."""
    is_py = bool(_PY_NODE.match(info.get("nodeName", "")))
    for m in info.get("metrics", []):
        if not is_py:
            continue
        if m["name"] in _PY_METRICS:
            out[m["accumulatorId"]] = _PY_METRICS[m["name"]]
        elif m["name"] == "number of output rows":
            out[m["accumulatorId"]] = "python.rows_received"
    for child in info.get("children", []):
        _walk_plan(child, out)


def _py_metric_value(key: str, raw: float) -> float:
    if key.endswith("_mb"):
        return raw / 1e6
    if key.endswith("_s"):
        return raw / 1e3  # Spark timing metrics are milliseconds
    return raw


def event_log_metrics(log_dir: str, group_prefix: str) -> dict:
    """Sum Spark's own job/stage/task and Python-boundary metrics over the
    jobs whose job group starts with ``group_prefix`` (one group per rep)."""
    py_accs: dict[int, str] = {}
    stages: set[int] = set()
    stage_accs: dict[int, dict[int, float]] = {}
    tot: dict[str, float] = defaultdict(float)
    for fn in sorted(glob.glob(os.path.join(log_dir, "**", "events_*"), recursive=True)):
        with open(fn) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev["Event"]
                if kind.endswith(("SQLExecutionStart", "SQLAdaptiveExecutionUpdate")):
                    _walk_plan(ev.get("sparkPlanInfo", {}), py_accs)
                elif kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id") or ""
                    if group.startswith(group_prefix):
                        tot["spark.jobs"] += 1
                        stages.update(ev["Stage IDs"])
                elif kind == "SparkListenerTaskEnd" and ev["Stage ID"] in stages:
                    m = ev.get("Task Metrics") or {}
                    tot["spark.tasks"] += 1
                    tot["spark.executor_run_s"] += m.get("Executor Run Time", 0) / 1e3
                    tot["spark.executor_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                    tot["spark.gc_s"] += m.get("JVM GC Time", 0) / 1e3
                    tot["spark.shuffle_write_mb"] += (
                        m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0) / 1e6
                    )
                    tot["spark.input_mb"] += m.get("Input Metrics", {}).get("Bytes Read", 0) / 1e6
                elif kind == "SparkListenerStageCompleted":
                    info = ev["Stage Info"]
                    # a stage without a submission time was skipped: it never ran
                    if info["Stage ID"] in stages and "Submission Time" in info:
                        stage_accs[info["Stage ID"]] = {
                            a["ID"]: float(a["Value"])
                            for a in info.get("Accumulables", [])
                            if _is_number(a.get("Value"))
                        }
    for accs in stage_accs.values():
        for acc_id, val in accs.items():
            key = py_accs.get(acc_id)
            if key:
                tot[key] += _py_metric_value(key, val)
    tot["spark.stages"] = len(stage_accs)
    for key in [*_PY_METRICS.values(), "python.rows_received", "spark.jobs"]:
        tot.setdefault(key, 0.0)
    return dict(tot)


def _is_number(v) -> bool:
    try:
        float(v)
    except (TypeError, ValueError):
        return False
    return True
