"""Tracing from outside the program: spans around calls into each layer,
job-group labels on every operation, and attribution of Spark work
from the run's own event log.

* ``Tracer.op`` labels the Spark jobs of one operation with
  ``setJobGroup("<workload>:<operation>")``;
* ``Tracer.span`` records a span (layer, operation, start, end, parent)
  and tags the jobs it launches with the ``perfbench.phase`` local
  property, so build-time jobs can be told from the final action's;
* ``Tracer.wrap`` replaces a public function of a program module with a
  timing wrapper, everywhere that function object was imported;
* ``attribute`` reads the event log and sums jobs, stages, tasks, times
  and bytes by job group and phase, from the properties each stage was
  submitted with — never by wall-clock window.

Spans stay in memory until the run writes its record.  With tracing
off every method is a no-op, so the same workload code serves both runs.
"""

from __future__ import annotations

import contextlib
import functools
import json
import os
import sys
import threading
import time
from collections import defaultdict

PHASE = "perfbench.phase"


class Tracer:
    def __init__(self, enabled: bool, workload: str) -> None:
        self.enabled = enabled
        self.workload = workload
        self.spans: list[dict] = []
        self.counters: dict[str, float] = defaultdict(float)
        self._local = threading.local()
        self._op: str | None = None
        # job groups the program sets itself (a streaming query runs its
        # batches under its run id) -> the operation that started them
        self.group_aliases: dict[str, str] = {}
        self._lock = threading.Lock()
        self._wrapped: list[tuple[object, str, object]] = []

    # -- spans -----------------------------------------------------------
    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextlib.contextmanager
    def span(self, layer: str, spark=None, phase: str | None = None, **attrs):
        if not self.enabled:
            yield
            return
        stack = self._stack()
        with self._lock:
            idx = len(self.spans)
            self.spans.append({
                "layer": layer, "op": self._op, "parent": stack[-1] if stack else None,
                "start": time.perf_counter(), "end": None, **attrs,
            })
        stack.append(idx)
        sc = spark.sparkContext if spark is not None else None
        prev = sc.getLocalProperty(PHASE) if sc is not None and phase else None
        if sc is not None and phase:
            sc.setLocalProperty(PHASE, phase)
        try:
            yield
        finally:
            if sc is not None and phase:
                sc.setLocalProperty(PHASE, prev)
            stack.pop()
            self.spans[idx]["end"] = time.perf_counter()

    @contextlib.contextmanager
    def op(self, spark, name: str):
        """One operation of the closed loop: its jobs carry the group
        ``<workload>:<name>``."""
        if not self.enabled:
            yield
            return
        sc = spark.sparkContext
        self._op = name
        sc.setJobGroup(f"{self.workload}:{name}", name)
        try:
            with self.span("op", name=name):
                yield
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
            self._op = None

    def alias_group(self, group: str) -> None:
        """Attribute jobs of job group ``group`` to the current operation."""
        if self.enabled and self._op is not None:
            self.group_aliases[group] = f"{self.workload}:{self._op}"

    def count(self, key: str, n: float = 1) -> None:
        if self.enabled:
            with self._lock:
                self.counters[key] += n

    # -- wrapping program functions --------------------------------------
    def wrap(self, module, attr: str, layer: str, on_call=None) -> None:
        """Time every call of ``module.attr`` as a ``layer`` span.  The
        wrapper is installed on ``module`` and on every loaded module
        that imported the same function object by name."""
        if not self.enabled:
            return
        orig = getattr(module, attr)

        @functools.wraps(orig)
        def traced(*args, **kwargs):
            with self.span(layer):
                if on_call is None:
                    return orig(*args, **kwargs)
                return on_call(orig, *args, **kwargs)

        for mod in list(sys.modules.values()):
            for name, val in list(getattr(mod, "__dict__", {}).items()):
                if val is orig:
                    setattr(mod, name, traced)
                    self._wrapped.append((mod, name, orig))

    def unwrap(self) -> None:
        for obj, name, orig in reversed(self._wrapped):
            setattr(obj, name, orig)
        self._wrapped.clear()

    # -- summaries -------------------------------------------------------
    def layer_times(self) -> dict[str, dict[str, float]]:
        """Total and self seconds per layer.  Self time is the span's
        duration minus the time its child spans cover."""
        child = [0.0] * len(self.spans)
        for s in self.spans:
            if s["parent"] is not None and s["end"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        out: dict[str, dict[str, float]] = {}
        for i, s in enumerate(self.spans):
            if s["end"] is None:
                continue
            d = s["end"] - s["start"]
            row = out.setdefault(s["layer"], {"total_s": 0.0, "self_s": 0.0, "calls": 0})
            row["total_s"] += d
            row["self_s"] += max(0.0, d - child[i])
            row["calls"] += 1
        return out


# ---------------------------------------------------------------------------
# event-log attribution
# ---------------------------------------------------------------------------

_WANTED = (
    b'"SparkListenerJobStart"', b'"SparkListenerStageSubmitted"',
    b'"SparkListenerStageCompleted"', b'"SparkListenerTaskEnd"',
)
FIELDS = (
    "jobs", "stages", "tasks", "failed_tasks", "executor_run_s",
    "executor_cpu_s", "gc_s", "input_bytes", "input_records",
    "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes",
    "output_bytes", "scan_stages", "scan_run_s",
)


def event_log_file(log_dir: str, app_id: str) -> str:
    path = os.path.join(log_dir, app_id)
    if not os.path.exists(path):
        raise FileNotFoundError(f"no event log for {app_id} in {log_dir}")
    return path


def attribute(path: str) -> dict[tuple[str, str], dict[str, float]]:
    """Sum Spark work by (job group, phase) from one event log.

    A stage belongs to the group and phase it was *submitted* with
    (``SparkListenerStageSubmitted`` properties), so a stage shared by
    two jobs is counted once, where it ran.  A scan stage is one whose
    tasks read input bytes.  Jobs without a group land under
    ``("", "")``."""
    out: dict[tuple[str, str], dict[str, float]] = defaultdict(lambda: dict.fromkeys(FIELDS, 0.0))
    stage_key: dict[tuple[int, int], tuple[str, str]] = {}
    stage_input: dict[tuple[int, int], list[float]] = defaultdict(lambda: [0.0, 0.0])

    def key_of(props: dict | None) -> tuple[str, str]:
        props = props or {}
        return props.get("spark.jobGroup.id") or "", props.get(PHASE) or ""

    with open(path, "rb") as fh:
        for line in fh:
            if not any(w in line[:64] for w in _WANTED):
                continue
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                out[key_of(ev.get("Properties"))]["jobs"] += 1
            elif kind == "SparkListenerStageSubmitted":
                info = ev["Stage Info"]
                sk = (info["Stage ID"], info.get("Stage Attempt ID", 0))
                stage_key[sk] = key_of(ev.get("Properties"))
                out[stage_key[sk]]["stages"] += 1
            elif kind == "SparkListenerStageCompleted":
                info = ev["Stage Info"]
                sk = (info["Stage ID"], info.get("Stage Attempt ID", 0))
                inp, run = stage_input.pop(sk, (0.0, 0.0))
                if inp > 0:
                    row = out[stage_key.get(sk, ("", ""))]
                    row["scan_stages"] += 1
                    row["scan_run_s"] += run
            elif kind == "SparkListenerTaskEnd":
                sk = (ev["Stage ID"], ev.get("Stage Attempt ID", 0))
                row = out[stage_key.get(sk, ("", ""))]
                row["tasks"] += 1
                if ev.get("Task End Reason", {}).get("Reason", "Success") != "Success":
                    row["failed_tasks"] += 1
                m = ev.get("Task Metrics")
                if not m:
                    continue
                run_s = m.get("Executor Run Time", 0) / 1e3
                row["executor_run_s"] += run_s
                row["executor_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                row["gc_s"] += m.get("JVM GC Time", 0) / 1e3
                inp = m.get("Input Metrics") or {}
                row["input_bytes"] += inp.get("Bytes Read", 0)
                row["input_records"] += inp.get("Records Read", 0)
                sr = m.get("Shuffle Read Metrics") or {}
                row["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
                sw = m.get("Shuffle Write Metrics") or {}
                row["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
                row["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
                row["output_bytes"] += (m.get("Output Metrics") or {}).get("Bytes Written", 0)
                if inp.get("Bytes Read", 0) > 0:
                    acc = stage_input[sk]
                    acc[0] += inp["Bytes Read"]
                    acc[1] += run_s
    return dict(out)


def by_operation(
    attr: dict[tuple[str, str], dict[str, float]], workload: str,
    aliases: dict[str, str] | None = None,
) -> dict[str, dict[str, float]]:
    """Fold (group, phase) rows into per-operation rows for ``workload``
    (group prefix ``<workload>:``, after mapping ``aliases``), adding job
    counts split by phase."""
    out: dict[str, dict[str, float]] = {}
    prefix = f"{workload}:"
    for (group, phase), row in attr.items():
        group = (aliases or {}).get(group, group)
        if not group.startswith(prefix):
            continue
        acc = out.setdefault(group[len(prefix):], dict.fromkeys(FIELDS, 0.0))
        for k in FIELDS:
            acc[k] += row[k]
        if phase:
            acc[f"{phase}_jobs"] = acc.get(f"{phase}_jobs", 0.0) + row["jobs"]
    return out
