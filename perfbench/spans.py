"""Spans, process-tree memory and Spark event-log totals for the benchmark.

Spans are recorded from outside the engine, around the calls the
benchmark makes into each module.  They stay in memory and are written
once, when the run ends.  A span's ``round`` is shared by every span of
one round; ``parent`` is the id of the span that caused it.
"""

from __future__ import annotations

import contextlib
import json
import os
import time


class Tracer:
    """Collects spans when ``enabled``; otherwise costs one branch."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.round_id: str | None = None

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        rec = {"id": len(self.spans), "name": name, "round": self.round_id,
               "parent": self._stack[-1] if self._stack else None,
               "start": time.perf_counter(), "end": None, **attrs}
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps(s) + "\n")


def wrap(tracer: Tracer, module, attr: str, span_name: str, on_call=None):
    """Replace ``module.attr`` by a wrapper that times each call, records
    a span around it when tracing, and passes ``(seconds, args,
    result)`` to ``on_call``.  Returns an undo callable.  The engine
    code is unchanged: callers look the name up in ``module`` at call
    time."""
    original = getattr(module, attr)

    def wrapper(*args, **kwargs):
        with tracer.span(span_name):
            t = time.perf_counter()
            out = original(*args, **kwargs)
            took = time.perf_counter() - t
        if on_call is not None:
            on_call(took, args, out)
        return out

    setattr(module, attr, wrapper)
    return lambda: setattr(module, attr, original)


# -- memory -----------------------------------------------------------------


def _children(pid: int) -> list[int]:
    out = []
    try:
        for tid in os.listdir(f"/proc/{pid}/task"):
            with open(f"/proc/{pid}/task/{tid}/children") as fh:
                out.extend(int(c) for c in fh.read().split())
    except OSError:
        pass
    return out


def _hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def tree_peak_rss_mb(root_pid: int | None = None) -> float:
    """Sum of the peak resident set (VmHWM) of every process in the
    tree under ``root_pid``: the Python driver, its JVM and the JVM's
    Python workers."""
    todo, seen, total = [root_pid or os.getpid()], set(), 0
    while todo:
        pid = todo.pop()
        if pid in seen:
            continue
        seen.add(pid)
        total += _hwm_kb(pid)
        todo.extend(_children(pid))
    return total / 1024.0


# -- Spark event log --------------------------------------------------------

ROUND_PROPERTY = "perfbench.round"


def event_log_totals(log_dir: str, rounds: set[str]) -> dict[str, dict[str, float]]:
    """Per-round totals from the Spark event log, for the jobs whose
    ``perfbench.round`` local property is in ``rounds``: jobs, stages,
    tasks, executor CPU seconds, GC seconds, shuffle read/write bytes
    and spilled bytes."""
    stage_round: dict[int, str] = {}
    per: dict[str, dict[str, float]] = {}
    keys = ("jobs", "stages", "tasks", "task_cpu_s", "gc_s", "shuffle_read_bytes",
            "shuffle_write_bytes", "spill_bytes")
    for name in sorted(os.listdir(log_dir)):
        with open(os.path.join(log_dir, name)) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    r = (ev.get("Properties") or {}).get(ROUND_PROPERTY)
                    if r not in rounds:
                        continue
                    tot = per.setdefault(r, dict.fromkeys(keys, 0.0))
                    tot["jobs"] += 1
                    for sid in ev.get("Stage IDs", []):
                        stage_round[sid] = r
                elif kind == "SparkListenerStageCompleted":
                    r = stage_round.get(ev["Stage Info"]["Stage ID"])
                    if r is not None:
                        per[r]["stages"] += 1
                elif kind == "SparkListenerTaskEnd":
                    r = stage_round.get(ev.get("Stage ID"))
                    m = ev.get("Task Metrics")
                    if r is None or not m:
                        continue
                    tot = per[r]
                    tot["tasks"] += 1
                    tot["task_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                    tot["gc_s"] += m.get("JVM GC Time", 0) / 1e3
                    sr = m.get("Shuffle Read Metrics", {})
                    tot["shuffle_read_bytes"] += (sr.get("Remote Bytes Read", 0)
                                                  + sr.get("Local Bytes Read", 0))
                    tot["shuffle_write_bytes"] += m.get("Shuffle Write Metrics", {}).get(
                        "Shuffle Bytes Written", 0)
                    tot["spill_bytes"] += (m.get("Memory Bytes Spilled", 0)
                                           + m.get("Disk Bytes Spilled", 0))
    return per
