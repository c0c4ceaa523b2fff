"""Spans around calls into the program's layers, Spark job attribution from the
event log, and a peak-RSS sampler over the process tree.

Spans live in memory and are written out once, when the run ends.  Each span
tags the Spark jobs it starts with its own job group, so the event log's job,
stage and task counters can be attributed back to the span that caused them.
"""

from __future__ import annotations

import contextlib
import json
import os
import threading
import time
from collections import defaultdict

ENGINE_COUNTERS = (
    "jobs",
    "tasks",
    "tasks_failed",
    "task_cpu_s",
    "task_run_s",
    "gc_s",
    "shuffle_read_bytes",
    "shuffle_write_bytes",
    "spill_bytes",
    "input_bytes",
    "output_bytes",
    "python_bytes",
)
_GROUP_PREFIX = "perfbench-span-"
UNTRACED_GROUP = "perfbench-untraced"


class Tracer:
    """Records spans when ``enabled`` and not ``paused``; otherwise every call
    is a no-op.

    A span is (id, name, parent, op, phase, start, end).  ``op`` is the
    operation id shared by all spans of one workload operation; ``phase`` is
    ``setup`` or ``run``.  Times are wall-clock epoch seconds so they line up
    with the event log's millisecond timestamps.
    """

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.paused = False
        self.spans: list[dict] = []
        self.phase = "setup"
        self.op: int | None = None
        self._stack: list[dict] = []
        self._sc = None

    def attach(self, spark) -> None:
        self._sc = spark.sparkContext if self.enabled else None

    def pause(self, paused: bool) -> None:
        """Stop or resume recording between operations.  Jobs started while paused
        carry ``UNTRACED_GROUP``, so they are told apart from unattributed
        ones."""
        self.paused = paused
        if self._sc is None:
            return
        if paused:
            self._sc.setJobGroup(UNTRACED_GROUP, "untraced operation")
        else:
            self._set_group(None)

    @property
    def recording(self) -> bool:
        return self.enabled and not self.paused

    def _set_group(self, span: dict | None) -> None:
        if self._sc is None:
            return
        if span is None:
            self._sc.setLocalProperty("spark.jobGroup.id", None)
            self._sc.setLocalProperty("spark.job.description", None)
        else:
            self._sc.setJobGroup(f"{_GROUP_PREFIX}{span['id']}", span["name"])

    @contextlib.contextmanager
    def span(self, name: str):
        """Span around one call into a layer."""
        if not self.recording:
            yield
            return
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1]["id"] if self._stack else None,
            "op": self.op,
            "phase": self.phase,
            "start": time.time(),
            "end": None,
        }
        self.spans.append(rec)
        self._stack.append(rec)
        self._set_group(rec)
        try:
            yield
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            self._set_group(self._stack[-1] if self._stack else None)

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")


# --------------------------------------------------------------------------
# event log attribution
# --------------------------------------------------------------------------


def _num(v) -> float:
    try:
        return float(v)
    except (TypeError, ValueError):
        return 0.0


def _event_files(log_dir: str) -> list[str]:
    """Event log files in write order: a plain log file, or the numbered
    ``events_<n>_*`` parts of a rolling (v2) log directory."""
    out = []
    for dirpath, _, names in os.walk(log_dir):
        for name in names:
            if name.startswith("appstatus_") or name.startswith("."):
                continue
            part = int(name.split("_")[1]) if name.startswith("events_") else 0
            out.append((dirpath, part, os.path.join(dirpath, name)))
    return [p for *_, p in sorted(out)]


def read_event_log(log_dir: str) -> dict[int, dict]:
    """Per-job counters and time bounds from a Spark event log directory.

    Returns {job_id: {"group", "start", "end", counters...}} with times in
    epoch seconds.  Tasks are attributed to the first job that lists their
    stage.
    """
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    for path in _event_files(log_dir):
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    jid = ev["Job ID"]
                    props = ev.get("Properties") or {}
                    jobs[jid] = {
                        "group": props.get("spark.jobGroup.id"),
                        "start": ev["Submission Time"] / 1000.0,
                        "end": ev["Submission Time"] / 1000.0,
                        **{c: 0.0 for c in ENGINE_COUNTERS},
                        "jobs": 1.0,
                    }
                    for sid in ev.get("Stage IDs", []):
                        stage_job.setdefault(sid, jid)
                elif kind == "SparkListenerJobEnd":
                    job = jobs.get(ev["Job ID"])
                    if job is not None:
                        job["end"] = ev["Completion Time"] / 1000.0
                elif kind == "SparkListenerTaskEnd":
                    job = jobs.get(stage_job.get(ev.get("Stage ID")))
                    if job is None:
                        continue
                    info = ev.get("Task Info") or {}
                    m = ev.get("Task Metrics") or {}
                    job["tasks"] += 1
                    job["tasks_failed"] += 1 if info.get("Failed") else 0
                    job["task_cpu_s"] += _num(m.get("Executor CPU Time")) / 1e9
                    job["task_run_s"] += _num(m.get("Executor Run Time")) / 1e3
                    job["gc_s"] += _num(m.get("JVM GC Time")) / 1e3
                    sr = m.get("Shuffle Read Metrics") or {}
                    job["shuffle_read_bytes"] += _num(sr.get("Remote Bytes Read")) + _num(
                        sr.get("Local Bytes Read")
                    )
                    sw = m.get("Shuffle Write Metrics") or {}
                    job["shuffle_write_bytes"] += _num(sw.get("Shuffle Bytes Written"))
                    job["spill_bytes"] += _num(m.get("Disk Bytes Spilled"))
                    job["input_bytes"] += _num((m.get("Input Metrics") or {}).get("Bytes Read"))
                    job["output_bytes"] += _num(
                        (m.get("Output Metrics") or {}).get("Bytes Written")
                    )
                    for acc in info.get("Accumulables") or []:
                        if "Python workers" in str(acc.get("Name", "")):
                            job["python_bytes"] += _num(acc.get("Update"))
    return jobs


def _covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def attribute(spans: list[dict], jobs: dict[int, dict]) -> dict:
    """Attach Spark jobs to spans and roll them up per layer.

    Returns {"layers": {layer: {"driver_s", "spans", counters...}},
    "unattributed_jobs": n}.  Jobs of untraced operations are left out.  A job
    belongs to the span whose job group it carries.  A layer's ``driver_s`` sums, over its outermost spans, the span
    time not covered by the jobs of that span or its descendants.
    """
    by_id = {s["id"]: s for s in spans}
    children: dict[int, list[int]] = defaultdict(list)
    for s in spans:
        if s["parent"] is not None:
            children[s["parent"]].append(s["id"])
    span_jobs: dict[int, list[dict]] = defaultdict(list)
    unattributed = 0
    for job in jobs.values():
        g = job["group"] or ""
        if g == UNTRACED_GROUP:
            continue
        if g.startswith(_GROUP_PREFIX) and int(g[len(_GROUP_PREFIX):]) in by_id:
            span_jobs[int(g[len(_GROUP_PREFIX):])].append(job)
        else:
            unattributed += 1

    def subtree_jobs(sid: int) -> list[dict]:
        out = list(span_jobs.get(sid, []))
        for c in children.get(sid, []):
            out.extend(subtree_jobs(c))
        return out

    layers: dict[str, dict] = defaultdict(lambda: defaultdict(float))
    for s in spans:
        if s["phase"] != "run":
            continue
        layer = s["name"].split(".", 1)[0]
        for job in span_jobs.get(s["id"], []):
            for c in ENGINE_COUNTERS:
                layers[layer][c] += job[c]
        parent = by_id.get(s["parent"]) if s["parent"] is not None else None
        if parent is not None and parent["name"].split(".", 1)[0] == layer:
            continue  # nested in the same layer: counted by the outer span
        dur = s["end"] - s["start"]
        covered = _covered(
            [(j["start"], j["end"]) for j in subtree_jobs(s["id"])], s["start"], s["end"]
        )
        layers[layer]["driver_s"] += max(0.0, dur - covered)
        layers[layer]["spans"] += 1
    return {"layers": {k: dict(v) for k, v in layers.items()}, "unattributed_jobs": unattributed}


# --------------------------------------------------------------------------
# peak RSS of the process tree
# --------------------------------------------------------------------------

_PAGE = os.sysconf("SC_PAGE_SIZE")


def descendants(root: int) -> list[int]:
    """Live descendant pids of ``root``, from /proc."""
    kids: dict[int, list[int]] = defaultdict(list)
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # the command name may hold spaces: fields resume after its ')'
        kids[int(stat.rsplit(")", 1)[1].split()[1])].append(int(name))
    out, todo = [], [root]
    while todo:
        found = kids.get(todo.pop(), [])
        out.extend(found)
        todo.extend(found)
    return out


def tree_rss(root: int) -> int:
    """Resident bytes of ``root`` and all of its descendants."""
    total = 0
    for pid in [root, *descendants(root)]:
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * _PAGE
        except OSError:
            pass
    return total


_TICK = os.sysconf("SC_CLK_TCK")


def _jit_ticks(pid: int) -> int:
    """CPU ticks of a JVM's JIT compiler threads; 0 for any other process.
    The JVM must keep its compiler threads for life
    (``-XX:-UseDynamicNumberOfCompilerThreads``), or the time of a compiler
    thread that exited would move back into the rest of the process."""
    try:
        tids = os.listdir(f"/proc/{pid}/task")
    except OSError:
        return 0
    total = 0
    for tid in tids:
        try:
            with open(f"/proc/{pid}/task/{tid}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        if stat[stat.index("(") + 1 :].startswith(("C1 CompilerThre", "C2 CompilerThre")):
            fields = stat.rsplit(")", 1)[1].split()
            total += int(fields[11]) + int(fields[12])
    return total


def tree_cpu_s(root: int) -> tuple[float, float]:
    """(CPU seconds, of which JIT compiler seconds) used so far by ``root``
    and its live descendants; CPU is user + system, including reaped
    children."""
    total = jit = 0
    for pid in [root, *descendants(root)]:
        try:
            with open(f"/proc/{pid}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # utime, stime, cutime, cstime are fields 14-17 of stat(5)
        total += sum(int(x) for x in stat.rsplit(")", 1)[1].split()[11:15])
        if stat[stat.index("(") + 1 :].startswith("java)"):
            jit += _jit_ticks(pid)
    return total / _TICK, jit / _TICK


def host_cpu_ticks() -> tuple[int, int]:
    """(steal, total) CPU ticks of the host since boot, from /proc/stat."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return fields[7], sum(fields)


class RssSampler:
    """Background thread keeping the peak RSS of this process's tree."""

    def __init__(self, interval: float = 0.2):
        self.interval = interval
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, name="rss-sampler", daemon=True)

    def _loop(self) -> None:
        me = os.getpid()
        while True:
            self.peak = max(self.peak, tree_rss(me))
            if self._stop.wait(self.interval):
                return

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)
