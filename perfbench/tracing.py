"""Traced-mode instrumentation, installed from the benchmark only.

Three sources feed the per-layer metrics:

* :class:`Py4jCounter` counts the commands PySpark sends over py4j.
  Proxy-release (``m``) commands follow Python's garbage collector, so
  they are counted apart and kept out of ``py4j.calls``.
* :class:`Spans` wraps public functions of the engine (module
  attributes, patched in every module that imported them by name) and
  adds each call's wall time and py4j commands to the current
  operation's record.  Self time of a layer is its span minus the
  spans of the layers it calls.
* :func:`fold_event_log` reads Spark's uncompressed event log and sums
  jobs, stages, tasks and task metrics per operation.  Jobs are tied to
  an operation through the ``perfbench.op`` local property that the
  benchmark sets on its thread, or through ``streaming.sql.batchId``
  for micro-batch jobs.
"""

from __future__ import annotations

import glob
import json
import threading
import time
from collections import defaultdict
from typing import Callable, Optional

OP_PROPERTY = "perfbench.op"
#: job groups the benchmark sets around pipeline construction and execution
BUILD_GROUP, EXEC_GROUP = "perfbench-build", "perfbench-exec"


class Py4jCounter:
    """Counts py4j commands sent by this process, by command letter."""

    def __init__(self) -> None:
        self.calls = 0
        self.releases = 0
        self._lock = threading.Lock()
        self._orig: Optional[Callable] = None

    def install(self) -> None:
        from py4j.clientserver import ClientServerConnection

        orig = ClientServerConnection.send_command
        counter = self

        def send_command(conn, command):
            with counter._lock:
                if command.startswith("m\n"):
                    counter.releases += 1
                else:
                    counter.calls += 1
            return orig(conn, command)

        self._orig = orig
        ClientServerConnection.send_command = send_command

    def uninstall(self) -> None:
        if self._orig is not None:
            from py4j.clientserver import ClientServerConnection

            ClientServerConnection.send_command = self._orig
            self._orig = None


class Spans:
    """Per-operation sums of wrapped-call wall time, py4j commands and
    call counts, keyed by the metric prefix given to :meth:`wrap`."""

    def __init__(self, py4j: Py4jCounter) -> None:
        self.py4j = py4j
        self.ops: list[dict[str, float]] = []
        self._current: Optional[dict[str, float]] = None
        self._patched: list[tuple[object, str, object]] = []

    def begin_op(self) -> dict[str, float]:
        self._current = defaultdict(float)
        self.ops.append(self._current)
        return self._current

    def end_op(self) -> None:
        self._current = None

    def add(self, key: str, value: float) -> None:
        if self._current is not None:
            self._current[key] += value

    def wrap(self, key: str, owner: object, name: str, *importers: object) -> None:
        """Replace ``owner.name`` (and the same name in each importer
        module) by a wrapper that records ``<key>_ms``, ``<key>_py4j``
        and ``<key>_calls`` on the current operation."""
        orig = getattr(owner, name)
        spans = self

        def wrapper(*args, **kwargs):
            cur = spans._current
            if cur is None:
                return orig(*args, **kwargs)
            c0, t0 = spans.py4j.calls, time.perf_counter()
            try:
                return orig(*args, **kwargs)
            finally:
                cur[key + "_ms"] += (time.perf_counter() - t0) * 1000.0
                cur[key + "_py4j"] += spans.py4j.calls - c0
                cur[key + "_calls"] += 1

        wrapper.__wrapped__ = orig
        for target in (owner, *importers):
            if getattr(target, name, None) is orig:
                self._patched.append((target, name, orig))
                setattr(target, name, wrapper)

    def unwrap_all(self) -> None:
        for target, name, orig in reversed(self._patched):
            setattr(target, name, orig)
        self._patched.clear()


def _task_metric(metrics: dict, *path: str) -> float:
    cur = metrics
    for p in path:
        if not isinstance(cur, dict) or p not in cur:
            return 0.0
        cur = cur[p]
    return float(cur or 0)


def fold_event_log(
    log_dir: str, op_of_job: Callable[[dict, float], Optional[int]]
) -> dict[int, dict[str, float]]:
    """Sum the event log per operation.  ``op_of_job(properties,
    submission_ms)`` names the operation a job belongs to, or None for
    work outside every operation (set-up, warm-up, checks); a job's
    stages and tasks belong to the same operation."""
    per_op: dict[int, dict[str, float]] = defaultdict(lambda: defaultdict(float))
    stage_op: dict[int, int] = {}
    for path in sorted(glob.glob(f"{log_dir}/**/events_*", recursive=True)):
        with open(path, encoding="utf-8") as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    op = op_of_job(props, ev["Submission Time"])
                    if op is None:
                        continue
                    per_op[op]["spark.jobs"] += 1
                    if props.get("spark.jobGroup.id") == BUILD_GROUP:
                        per_op[op]["operators.build_jobs"] += 1
                    for sid in ev["Stage IDs"]:
                        stage_op[sid] = op
                elif kind == "SparkListenerStageSubmitted":
                    op = stage_op.get(ev["Stage Info"]["Stage ID"])
                    if op is not None:
                        per_op[op]["spark.stages"] += 1
                elif kind == "SparkListenerTaskEnd":
                    op = stage_op.get(ev.get("Stage ID"))
                    if op is None:
                        continue
                    m = ev.get("Task Metrics") or {}
                    acc = per_op[op]
                    acc["spark.tasks"] += 1
                    acc["spark.executor_run_ms"] += _task_metric(m, "Executor Run Time")
                    acc["spark.executor_cpu_ms"] += _task_metric(m, "Executor CPU Time") / 1e6
                    acc["spark.gc_ms"] += _task_metric(m, "JVM GC Time")
                    acc["spark.shuffle_write_bytes"] += _task_metric(
                        m, "Shuffle Write Metrics", "Shuffle Bytes Written"
                    )
                    acc["spark.shuffle_read_bytes"] += _task_metric(
                        m, "Shuffle Read Metrics", "Local Bytes Read"
                    ) + _task_metric(m, "Shuffle Read Metrics", "Remote Bytes Read")
                    acc["spark.spill_bytes"] += _task_metric(
                        m, "Memory Bytes Spilled"
                    ) + _task_metric(m, "Disk Bytes Spilled")
    return per_op
