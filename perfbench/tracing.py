"""Spans around layer calls, Spark event-log totals, and /proc memory.

A ``Tracer`` records one span per call into a layer's public function:
name, start, end, parent and pass id, kept in memory until the run ends.
While a span is open, the Spark local property ``perfbench.span`` names
it, so every job the call starts carries the span in the event log and
task metrics can be attributed to the layer afterwards.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import time
from collections import defaultdict

SPAN_PROP = "perfbench.span"
PASS_PROP = "perfbench.pass"


class Tracer:
    """Span recorder. With ``on=False`` spans cost nothing and record
    nothing, so the same pass code serves traced and untraced passes."""

    def __init__(self, sc, on: bool):
        self.sc = sc
        self.on = on
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.pass_id = ""

    @contextlib.contextmanager
    def run_pass(self, pass_id: str):
        """Tag every job of one pass (traced or not) with its pass id."""
        self.pass_id = pass_id
        self.sc.setLocalProperty(PASS_PROP, pass_id)
        try:
            if self.on:
                with self.span("pass"):
                    yield
            else:
                yield
        finally:
            self.sc.setLocalProperty(PASS_PROP, None)

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.on:
            yield
            return
        idx = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        rec = {"name": name, "pass": self.pass_id, "parent": parent,
               "start": time.perf_counter(), "end": None}
        self.spans.append(rec)
        self._stack.append(idx)
        self.sc.setLocalProperty(SPAN_PROP, str(idx))
        try:
            yield
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            self.sc.setLocalProperty(
                SPAN_PROP, str(self._stack[-1]) if self._stack else None
            )

    def self_times(self) -> dict[int, float]:
        """Span duration minus the part of it its child spans cover
        (children of one span never overlap: calls are sequential)."""
        own = {i: s["end"] - s["start"] for i, s in enumerate(self.spans)}
        for s in self.spans:
            if s["parent"] is not None:
                own[s["parent"]] -= s["end"] - s["start"]
        return own

    def dump(self, path: str) -> None:
        own = self.self_times()
        with open(path, "w") as f:
            for i, s in enumerate(self.spans):
                f.write(json.dumps({**s, "id": i, "self_s": own[i]}) + "\n")


# -- event log ------------------------------------------------------------------
_ACCUM = {
    "data sent to Python workers": "python_bytes_in",
    "data returned from Python workers": "python_bytes_out",
    "time to run Python workers": "python_worker_ms",
    "number of sort fallback tasks": "sort_fallback_tasks",
}


def _new_totals() -> dict:
    return defaultdict(float)


def parse_event_log(log_dir: str) -> dict:
    """Task totals keyed by span id and by pass id, plus job/stage counts
    per pass. Reads the uncompressed JSON-lines log Spark wrote under
    ``log_dir`` (plain file or rolling ``eventlog_v2_*`` directory)."""
    files = sorted(glob.glob(os.path.join(log_dir, "eventlog_v2_*", "events_*")))
    files += [p for p in glob.glob(os.path.join(log_dir, "*")) if os.path.isfile(p)]
    stage_props: dict[int, dict] = {}
    by_span: dict[str, dict] = defaultdict(_new_totals)
    by_pass: dict[str, dict] = defaultdict(_new_totals)
    for path in files:
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    p = props.get(PASS_PROP)
                    if p:
                        by_pass[p]["jobs"] += 1
                        by_pass[p]["stages"] += len(ev.get("Stage IDs", []))
                elif kind == "SparkListenerStageSubmitted":
                    stage_props[ev["Stage Info"]["Stage ID"]] = ev.get("Properties") or {}
                elif kind == "SparkListenerTaskEnd":
                    props = stage_props.get(ev["Stage ID"], {})
                    tot = _task_totals(ev)
                    for key, table in ((props.get(SPAN_PROP), by_span),
                                       (props.get(PASS_PROP), by_pass)):
                        if key:
                            for k, v in tot.items():
                                if k == "peak_exec_mem":
                                    table[key][k] = max(table[key][k], v)
                                else:
                                    table[key][k] += v
    return {"span": by_span, "pass": by_pass}


def _task_totals(ev: dict) -> dict:
    m = ev.get("Task Metrics") or {}
    sw = m.get("Shuffle Write Metrics") or {}
    out = {
        "tasks": 1,
        "shuffle_write_bytes": sw.get("Shuffle Bytes Written", 0),
        "spill_bytes": m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0),
        "peak_exec_mem": m.get("Peak Execution Memory", 0),
    }
    for acc in (ev.get("Task Info") or {}).get("Accumulables", []):
        key = _ACCUM.get(acc.get("Name"))
        if key:
            out[key] = out.get(key, 0) + float(acc.get("Update") or 0)
    return out


# -- process memory -------------------------------------------------------------
def _children(pid: int) -> list[int]:
    """Children of every thread of ``pid`` (the JVM forks from many)."""
    out = []
    for path in glob.glob(f"/proc/{pid}/task/*/children"):
        try:
            with open(path) as f:
                out += [int(x) for x in f.read().split()]
        except OSError:
            pass
    return out


def process_tree(root: int) -> list[int]:
    """``root`` and all its descendants (JVM → Python daemon → workers)."""
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(_children(pid))
    return out


def _status_kb(pid: int, field: str) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith(field + ":"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def reset_peak_rss(pids: list[int]) -> None:
    """Restart each process's VmHWM from its current RSS (clear_refs 5)."""
    for pid in pids:
        with contextlib.suppress(OSError):
            with open(f"/proc/{pid}/clear_refs", "w") as f:
                f.write("5")


def peak_rss_mb(pids: list[int]) -> float:
    """Sum of VmHWM over the processes, in MB."""
    return sum(_status_kb(p, "VmHWM") for p in pids) / 1024.0


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) CPU ticks of the machine since boot (/proc/stat).
    Steal is time the hypervisor gave this VM's CPUs to someone else."""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:]]
    return v[7], sum(v)


def other_spark_jvms(own: set[int]) -> list[int]:
    """PIDs of Spark JVMs outside our own process tree."""
    found = []
    for d in glob.glob("/proc/[0-9]*"):
        pid = int(os.path.basename(d))
        if pid in own:
            continue
        try:
            with open(f"{d}/cmdline", "rb") as f:
                cmd = f.read()
        except OSError:
            continue
        if b"org.apache.spark.deploy.SparkSubmit" in cmd:
            found.append(pid)
    return found
