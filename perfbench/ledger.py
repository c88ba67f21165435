"""Observation from outside the engine: Spark's REST status store, the
process tree under ``/proc``, and wrappers around the planner and memo
entry points.

Nothing here changes engine behaviour. The REST reads happen after the
timed passes (plus one storage read after each op in a traced run), and
the wrappers and the streaming listener are installed in traced runs only.
"""

from __future__ import annotations

import datetime as _dt
import json
import os
import re
import time
import urllib.parse
import urllib.request

MB = 1e6
_CLK_TCK = os.sysconf("SC_CLK_TCK")


# ---------------------------------------------------------------- /proc


def _read(path):
    with open(path) as f:
        return f.read()


def _stat_fields(pid):
    raw = _read(f"/proc/{pid}/stat")
    # comm may contain spaces or parentheses; fields resume after the last ')'
    head, rest = raw.rsplit(")", 1)
    return head.split("(", 1)[1], rest.split()


def process_start_wall() -> float:
    """Wall-clock time at which this process started (0.01 s resolution)."""
    _, f = _stat_fields("self")
    start_ticks = int(f[19])
    uptime = float(_read("/proc/uptime").split()[0])
    return time.time() - (uptime - start_ticks / _CLK_TCK)


def descendants(root_pid: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            _, f = _stat_fields(name)
        except OSError:
            continue
        children.setdefault(int(f[1]), []).append(int(name))
    out, todo = [], [root_pid]
    while todo:
        pid = todo.pop()
        for c in children.get(pid, []):
            out.append(c)
            todo.append(c)
    return out


class ProcessTree:
    """CPU seconds and peak RSS of this process, the JVM it launched and
    the Python workers under the JVM."""

    def __init__(self, jvm_pid: int):
        self.driver_pid = os.getpid()
        self.jvm_pid = jvm_pid

    def groups(self) -> dict[str, list[int]]:
        under_jvm = descendants(self.jvm_pid)
        return {"driver": [self.driver_pid], "jvm": [self.jvm_pid], "python": under_jvm}

    def cpu(self) -> dict[str, float]:
        """Group -> CPU seconds, reaped children included."""
        out = {}
        for group, pids in self.groups().items():
            total = 0.0
            for pid in pids:
                try:
                    _, f = _stat_fields(pid)
                except OSError:
                    continue
                total += sum(int(x) for x in f[11:15]) / _CLK_TCK
            out[group] = total
        return out

    def hwm_mb(self) -> dict[str, float]:
        """Group -> summed VmHWM (peak resident memory) in MB."""
        out = {}
        for group, pids in self.groups().items():
            total = 0
            for pid in pids:
                try:
                    m = re.search(r"VmHWM:\s+(\d+) kB", _read(f"/proc/{pid}/status"))
                except OSError:
                    continue
                if m:
                    total += int(m.group(1)) * 1024
            out[group] = total / MB
        return out


def cpu_sentinel() -> dict:
    """Context for judging a run, not a gate: wall seconds of a fixed
    numpy GEMM (best of 5) and the machine's cumulative steal seconds."""
    import numpy as np

    a = np.ones((256, 256))
    a @ a  # first call pays thread-pool start-up
    best = min(_timed(lambda: a @ a) for _ in range(5))
    steal = int(_read("/proc/stat").split("\n")[0].split()[8]) / _CLK_TCK
    return {"gemm256_s": best, "steal_s": steal, "loadavg1": os.getloadavg()[0]}


def _timed(fn) -> float:
    t = time.perf_counter()
    fn()
    return time.perf_counter() - t


# ---------------------------------------------------------------- REST


def parse_time(s: str | None) -> float | None:
    """'2026-10-16T17:49:31.259GMT' -> epoch seconds."""
    if not s:
        return None
    t = _dt.datetime.strptime(s, "%Y-%m-%dT%H:%M:%S.%fGMT")
    return t.replace(tzinfo=_dt.timezone.utc).timestamp()


_UNITS = {
    "ms": 1e-3, "s": 1.0, "min": 60.0, "h": 3600.0,
    "B": 1.0, "KiB": 1024.0, "MiB": 1024.0**2, "GiB": 1024.0**3, "TiB": 1024.0**4,
}


def parse_sql_metric(value: str) -> float:
    """Total of one SQL node metric as the UI prints it: '877 ms',
    '19.8 KiB', '1,234', or a 'total (min, med, max ...)' block whose
    second line starts with the total. Times come back in seconds,
    sizes in bytes."""
    line = value.strip().split("\n")[-1] if value.strip().startswith("total") else value.strip()
    m = re.match(r"([0-9][0-9,]*\.?[0-9]*)\s*([A-Za-z]*)", line)
    if not m:
        return 0.0
    num = float(m.group(1).replace(",", ""))
    return num * _UNITS.get(m.group(2), 1.0)


# SQL node metric name -> ledger field, for the pandas / Arrow exec nodes
PYTHON_NODE_METRICS = {
    "time to run Python workers": "python.run_s",
    "time to start Python workers": "python.start_s",
    "time to initialize Python workers": "python.init_s",
    "data sent to Python workers": "python.sent_mb",
    "data returned from Python workers": "python.returned_mb",
}


def is_python_node(name: str) -> bool:
    return "Python" in name or "InPandas" in name or "ArrowEval" in name


class Rest:
    """Read-only client for the application's status REST API."""

    def __init__(self, sc):
        port = urllib.parse.urlparse(sc.uiWebUrl).port
        self.base = f"http://127.0.0.1:{port}/api/v1/applications/{sc.applicationId}"

    def get(self, path: str):
        with urllib.request.urlopen(self.base + path, timeout=60) as r:
            return json.load(r)

    def settle(self, timeout: float = 15.0) -> None:
        """Wait until the status store has caught up with the listener bus:
        no job is running and two reads a beat apart agree."""
        deadline = time.time() + timeout
        prev = None
        while time.time() < deadline:
            jobs = self.get("/jobs")
            state = (len(jobs), sum(j["status"] == "RUNNING" for j in jobs))
            if state == prev and state[1] == 0:
                return
            prev = state
            time.sleep(0.2)

    def cached_mb(self) -> float:
        return sum(r.get("memoryUsed", 0) + r.get("diskUsed", 0) for r in self.get("/storage/rdd")) / MB

    def snapshot(self, details: bool):
        """jobs, stages and (for a traced run) SQL executions with node
        metrics, each with parsed epoch times."""
        jobs = self.get("/jobs")
        for j in jobs:
            j["t0"] = parse_time(j.get("submissionTime"))
        stages = self.get("/stages")
        for s in stages:
            s["t0"] = parse_time(s.get("submissionTime"))
            s["t1"] = parse_time(s.get("completionTime"))
        sql = []
        if details:
            sql = self.get("/sql?details=true&planDescription=false&offset=0&length=1000000")
            for e in sql:
                e["t0"] = parse_time(e.get("submissionTime"))
        return jobs, stages, sql

    def straggler_ratio(self, stage) -> float:
        q = self.get(f"/stages/{stage['stageId']}/{stage['attemptId']}/taskSummary?quantiles=0.5,1.0")
        med, mx = q["duration"]
        return mx / med if med > 0 else 1.0


def in_window(t, lo, hi) -> bool:
    """Submission time t (ms resolution) inside [lo, hi]."""
    return t is not None and int(lo * 1000) / 1000 <= t <= hi


# ---------------------------------------------------------------- wrappers


class Hooks:
    """Counters from wrappers around the planner and memo entry points,
    attributed to whichever op is current."""

    def __init__(self):
        self.current = None  # ledger dict of the op being run
        self._undo = []

    def _bump(self, key, n=1):
        if self.current is not None:
            self.current[key] = self.current.get(key, 0) + n

    def install(self, pkg: str) -> None:
        import importlib

        plans = importlib.import_module(f"{pkg}.plans")
        memo = importlib.import_module(f"{pkg}.functions.memo")
        hooks = self

        orig_strategy = plans.choose_multiply_strategy
        orig_bs = plans.choose_block_size
        orig_memo = memo.plan_memo

        def choose_multiply_strategy(*a, **k):
            out = orig_strategy(*a, **k)
            if hooks.current is not None:
                hooks.current["plans.strategy"] = out
            return out

        def choose_block_size(*a, **k):
            out = orig_bs(*a, **k)
            if hooks.current is not None:
                hooks.current["plans.block_size"] = out
            return out

        def plan_memo(store, frame, extra_key, compute, *a, **k):
            hooks._bump("memo.calls")

            def counted():
                hooks._bump("memo.misses")
                return compute()

            return orig_memo(store, frame, extra_key, counted, *a, **k)

        for mod, name, fn, orig in (
            (plans, "choose_multiply_strategy", choose_multiply_strategy, orig_strategy),
            (plans, "choose_block_size", choose_block_size, orig_bs),
            (memo, "plan_memo", plan_memo, orig_memo),
        ):
            setattr(mod, name, fn)
            self._undo.append((mod, name, orig))

    def uninstall(self) -> None:
        for mod, name, orig in reversed(self._undo):
            setattr(mod, name, orig)
        self._undo.clear()


def streaming_listener(events: list):
    """A StreamingQueryListener that appends (epoch time, run id, batch id,
    state rows) for every progress event."""
    from pyspark.sql.streaming import StreamingQueryListener

    class _Listener(StreamingQueryListener):
        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            p = event.progress
            ts = _dt.datetime.strptime(p.timestamp, "%Y-%m-%dT%H:%M:%S.%fZ")
            state = sum(op.numRowsTotal for op in (p.stateOperators or []))
            events.append((ts.replace(tzinfo=_dt.timezone.utc).timestamp(), str(p.runId), p.batchId, state))

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    return _Listener()
