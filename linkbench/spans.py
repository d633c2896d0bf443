"""Spans, /proc CPU and RSS sampling, and Spark event-log attribution.

A span brackets one call from the benchmark into an engine module. It
records its name, start, end, parent span, phase (``setup``, ``op`` or
``check``) and op id, plus the CPU the JVM and the Python worker subtree
(``pyspark.daemon`` and its forked workers) burned inside it, read from
``/proc``. Spans stay in memory and are written out when the run ends.

Spark jobs are attributed after the session stops, from the event log:
each job goes to the innermost span whose interval contains the job's
submission time. Job groups would not do, because ``foreachBatch`` runs
on the stream's own thread and does not inherit them.
"""

from __future__ import annotations

import json
import os
import statistics
import threading
import time
from contextlib import contextmanager

_TICK = os.sysconf("SC_CLK_TCK")


def _proc_table() -> dict[int, tuple]:
    """pid -> (ppid, comm, own cpu ticks, reaped-children cpu ticks)."""
    table = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat", "rb") as f:
                data = f.read()
        except OSError:
            continue
        close = data.rindex(b")")
        comm = data[data.index(b"(") + 1 : close].decode(errors="replace")
        fields = data[close + 2 :].split()
        table[int(name)] = (
            int(fields[1]),
            comm,
            int(fields[11]) + int(fields[12]),
            int(fields[13]) + int(fields[14]),
        )
    return table


def _descendants(table: dict[int, tuple], root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for pid, row in table.items():
        children.setdefault(row[0], []).append(pid)
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def descendant_pids(root: int) -> list[int]:
    """Every live process below ``root`` (``root`` excluded)."""
    return _descendants(_proc_table(), root)[1:]


def tree_pss_bytes(root: int) -> int:
    """Summed proportional set size of ``root`` and its descendants: the
    driver, the JVM and the Python workers. PSS is RSS with each shared
    page split among its sharers, so the forked Python workers do not
    count the daemon's copy-on-write pages once each."""
    total = 0
    for pid in _descendants(_proc_table(), root):
        try:
            with open(f"/proc/{pid}/smaps_rollup", "rb") as f:
                for line in f:
                    if line.startswith(b"Pss:"):
                        total += int(line.split()[1]) * 1024
                        break
        except OSError:
            continue  # exited since the table was read
    return total


def cpu_split(root: int) -> tuple[float, float]:
    """(JVM cpu s, Python-worker cpu s) below ``root``. The worker side is
    every process under the JVM, counting reaped workers through their
    parent's children-time fields."""
    table = _proc_table()
    tree = _descendants(table, root)
    jvm = next((p for p in tree if table[p][1] == "java"), None)
    if jvm is None:
        return 0.0, 0.0
    py = sum(table[p][2] + table[p][3] for p in _descendants(table, jvm)[1:])
    return table[jvm][2] / _TICK, py / _TICK


class MemorySampler:
    """Background thread that keeps the peak summed PSS of the process tree."""

    def __init__(self, root: int, interval_s: float = 0.25):
        self.root = root
        self.interval_s = interval_s
        self.peak_bytes = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.peak_bytes = max(self.peak_bytes, tree_pss_bytes(self.root))
            self._stop.wait(self.interval_s)

    def __enter__(self) -> "MemorySampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)


class Tracer:
    """In-memory span recorder. Disabled, ``span`` only yields a scratch
    dict, so untraced runs pay no /proc reads."""

    def __init__(self, enabled: bool, root_pid: int):
        self.enabled = enabled
        self.root_pid = root_pid
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.phase = "setup"
        self.op: int | None = None

    @contextmanager
    def span(self, name: str):
        rec: dict = {"name": name, "rows_out": 0}
        if not self.enabled:
            yield rec
            return
        rec.update(
            phase=self.phase,
            op=self.op,
            parent=self._stack[-1] if self._stack else None,
        )
        jvm0, py0 = cpu_split(self.root_pid)
        self._stack.append(len(self.spans))
        self.spans.append(rec)
        rec["start"] = time.time()
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            jvm1, py1 = cpu_split(self.root_pid)
            rec["jvm_cpu_s"] = jvm1 - jvm0
            rec["py_cpu_s"] = py1 - py0
            self._stack.pop()


def read_event_log(events_dir: str) -> tuple[list[dict], dict[int, list[dict]]]:
    """(jobs, stage id -> finished tasks) from the Spark event log files
    in ``events_dir``. Jobs carry submission time (epoch s) and stage
    ids; tasks carry run time (s) and shuffle bytes written."""
    jobs, tasks = [], {}
    paths = sorted(
        os.path.join(d, n)
        for d, _, names in os.walk(events_dir)
        for n in names
        if not n.startswith(("appstatus", "."))  # v2 logs keep a status marker
    )
    for path in paths:
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    jobs.append(
                        {
                            "job": ev["Job ID"],
                            "submitted": ev["Submission Time"] / 1000.0,
                            "stages": ev["Stage IDs"],
                        }
                    )
                elif kind == "SparkListenerTaskEnd":
                    m = ev.get("Task Metrics") or {}
                    tasks.setdefault(ev["Stage ID"], []).append(
                        {
                            "run_s": m.get("Executor Run Time", 0) / 1000.0,
                            "shuffle_bytes": (m.get("Shuffle Write Metrics") or {}).get(
                                "Shuffle Bytes Written", 0
                            ),
                        }
                    )
    return jobs, tasks


def attribute_jobs(spans: list[dict], jobs: list[dict], tasks: dict) -> None:
    """Give each span its jobs, shuffle bytes and task run times: a job
    belongs to the innermost span (latest start) containing its
    submission time; a stage belongs to the first job that lists it, as
    later jobs list it again only when they skip it."""
    owner: dict[int, int] = {}
    for job in sorted(jobs, key=lambda j: j["job"]):
        for sid in job["stages"]:
            owner.setdefault(sid, job["job"])
    for s in spans:
        s.update(jobs=0, shuffle_write_bytes=0, stage_run_s={})
    by_start = sorted(range(len(spans)), key=lambda i: spans[i]["start"])
    for job in jobs:
        hit = None
        for i in by_start:
            s = spans[i]
            if s["start"] <= job["submitted"] <= s["end"]:
                hit = s
        if hit is None:
            continue
        hit["jobs"] += 1
        for sid in job["stages"]:
            if owner[sid] != job["job"]:
                continue
            for t in tasks.get(sid, ()):
                hit["shuffle_write_bytes"] += t["shuffle_bytes"]
                hit["stage_run_s"].setdefault(sid, []).append(t["run_s"])


def task_skew(stage_run_s: dict[int, list[float]]) -> float:
    """Max over median task run time in the heaviest stage (largest summed
    task time) with at least two tasks; 1.0 when there is none."""
    stages = [r for r in stage_run_s.values() if len(r) >= 2 and sum(r) > 0]
    if not stages:
        return 1.0
    run_s = max(stages, key=sum)
    # run times come in whole milliseconds
    return max(run_s) / max(statistics.median(run_s), 0.001)
