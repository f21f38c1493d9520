"""Spans, the py4j call counter and Spark's own accounting (UI REST API)
for the traced run, and per-process CPU and memory from ``/proc`` for
every run.

Nothing here reaches into the engine package. Spans are recorded around
the benchmark's own calls into it; job attribution uses the job group
the benchmark sets per operation phase.
"""

from __future__ import annotations

import contextlib
import datetime
import json
import os
import time
import urllib.request


# --- spans --------------------------------------------------------------


class Tracer:
    """In-memory spans (name, kind, start, end, parent), written out once
    at the end of the run. A disabled tracer records nothing."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str, kind: str, **attrs):
        """Yield the span's dict; callers may add attributes to it."""
        if not self.enabled:
            yield {}
            return
        span = {
            "id": len(self.spans),
            "parent": self._stack[-1] if self._stack else None,
            "name": name,
            "kind": kind,
            "start": time.time(),
            "end": None,
            **attrs,
        }
        self.spans.append(span)
        self._stack.append(span["id"])
        try:
            yield span
        finally:
            span["end"] = time.time()
            self._stack.pop()

    def dump(self, path: str, extra: dict) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump({**extra, "spans": self.spans}, f, indent=1, default=str)


# --- py4j round-trips ---------------------------------------------------


class Py4JCounter:
    """Counts ``GatewayClient.send_command`` calls while ``active``.

    py4j's proxy-release commands (``m\\nd\\n``) are left out: they are
    sent when Python garbage-collects a JVM handle, so their number
    depends on when the collector runs, not on the code being built."""

    def __init__(self) -> None:
        from py4j.java_gateway import GatewayClient

        self.calls = 0
        self.active = False
        self._cls = GatewayClient
        self._orig = GatewayClient.send_command
        counter = self

        def send_command(client, command, *args, **kwargs):
            if counter.active and not command.startswith("m\nd\n"):
                counter.calls += 1
            return counter._orig(client, command, *args, **kwargs)

        GatewayClient.send_command = send_command

    def close(self) -> None:
        self._cls.send_command = self._orig


# --- Spark's accounting -------------------------------------------------


def rest(spark, path: str):
    base = spark.sparkContext.uiWebUrl
    app = spark.sparkContext.applicationId
    with urllib.request.urlopen(
        f"{base}/api/v1/applications/{app}/{path}", timeout=30
    ) as r:
        return json.loads(r.read())


def settled_jobs(spark, timeout_s: float = 30.0) -> list[dict]:
    """The job list once the UI's listener has caught up: no job still
    running and two reads a quarter second apart agree."""
    prev = None
    deadline = time.monotonic() + timeout_s
    while True:
        jobs = rest(spark, "jobs")
        key = [(j["jobId"], j["status"]) for j in jobs]
        running = any(j["status"] == "RUNNING" for j in jobs)
        if (key == prev and not running) or time.monotonic() > deadline:
            return jobs
        prev = key
        time.sleep(0.25)


def parse_ui_time(s: str | None) -> float | None:
    """``2026-01-02T03:04:05.678GMT`` → epoch seconds."""
    if not s:
        return None
    return (
        datetime.datetime.strptime(s.replace("GMT", ""), "%Y-%m-%dT%H:%M:%S.%f")
        .replace(tzinfo=datetime.timezone.utc)
        .timestamp()
    )


def union_length(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of ``(start, end)`` intervals."""
    total, end = 0.0, None
    for a, b in sorted(intervals):
        if end is None or a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total


_UNITS = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40}


def parse_metric(value: str) -> float:
    """A SQL metric as the UI renders it: ``"5,000"``, ``"12.3 MiB"`` or
    ``"total (min, med, max ...)\\n12.3 MiB (...)"`` → its total."""
    head = value.strip().split("\n")[-1].split(" (")[0].strip()
    parts = head.replace(",", "").split()
    num = float(parts[0])
    return num * _UNITS.get(parts[1], 1) if len(parts) > 1 else num


PY_SENT = "data sent to Python workers"


def python_sql_metrics(executions: list[dict], job_ids: set[int]) -> tuple[float, float]:
    """(rows received from, bytes sent to) Python workers, summed over the
    Python plan nodes of SQL executions whose jobs are in ``job_ids``."""
    rows = sent = 0.0
    for ex in executions:
        ex_jobs = set(ex.get("successJobIds", [])) | set(ex.get("failedJobIds", []))
        if not ex_jobs & job_ids:
            continue
        for node in ex.get("nodes", []):
            metrics = {m["name"]: m["value"] for m in node.get("metrics", [])}
            if PY_SENT in metrics:
                sent += parse_metric(metrics[PY_SENT])
                if "number of output rows" in metrics:
                    rows += parse_metric(metrics["number of output rows"])
    return rows, sent


def catalyst_phases(df) -> dict[str, float]:
    """Seconds per Catalyst phase recorded on ``df``'s QueryExecution."""
    out = {}
    phases = df._jdf.queryExecution().tracker().phases()
    for name in ("analysis", "optimization", "planning"):
        opt = phases.get(name)
        out[name] = opt.get().durationMs() / 1000.0 if opt.isDefined() else 0.0
    return out


# --- processes ----------------------------------------------------------


def children(pid: int) -> list[int]:
    out = []
    try:
        for tid in os.listdir(f"/proc/{pid}/task"):
            try:
                with open(f"/proc/{pid}/task/{tid}/children") as f:
                    out.extend(int(c) for c in f.read().split())
            except OSError:
                continue
    except OSError:
        pass
    return out


def descendants(pid: int) -> list[int]:
    out, stack = [], [pid]
    while stack:
        for c in children(stack.pop()):
            out.append(c)
            stack.append(c)
    return out


def vm_hwm_mb(pid: int) -> dict[int, float]:
    """VmHWM (peak resident set) in MiB of ``pid`` and each live
    descendant."""
    out = {}
    for p in [pid, *descendants(pid)]:
        try:
            with open(f"/proc/{p}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        out[p] = int(line.split()[1]) / 1024.0
                        break
        except OSError:
            continue
    return out


def cpu_split(subtree_cpu, jvm_pid: int) -> dict[str, float]:
    """CPU seconds so far of the driver, the JVM and its Python workers
    (every child process of the JVM), using ``bench``'s subtree walk."""
    total = subtree_cpu(os.getpid()) or 0.0
    jvm_tree = subtree_cpu(jvm_pid) or 0.0
    workers = sum(subtree_cpu(c) or 0.0 for c in children(jvm_pid))
    return {
        "driver": total - jvm_tree,
        "jvm": jvm_tree - workers,
        "workers": workers,
    }
