"""Run-time instrumentation of the benchmark process: in-memory spans, Spark
job-group counts, and the memory peak of the process tree."""

from __future__ import annotations

import contextlib
import json
import os
import subprocess
import threading
import time
from collections import defaultdict


class Tracer:
    """Spans around the benchmark's calls into the engine: name, start, end,
    attributes and the span that was open when it began (its parent). They
    stay in memory; `dump` writes them out with each span's self time, its
    duration minus the part its children cover."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[dict] = []
        self._open: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        """Yields the span's record, whose t0 and t1 are set either way;
        only an enabled tracer keeps it."""
        rec = {
            "id": len(self.spans),
            "parent": self._open[-1] if self._open else None,
            "name": name,
            "t0": time.perf_counter(),
            "t1": None,
            "attrs": attrs,
        }
        kept = self.enabled
        if kept:
            self.spans.append(rec)
            self._open.append(rec["id"])
        try:
            yield rec
        finally:
            rec["t1"] = time.perf_counter()
            if kept:
                self._open.pop()

    def durations(self, *names: str) -> list[float]:
        return [s["t1"] - s["t0"] for s in self.spans if s["name"] in names]

    def dump(self, path: str, **extra) -> None:
        covered: dict[int, float] = defaultdict(float)
        for s in self.spans:
            if s["parent"] is not None:
                covered[s["parent"]] += s["t1"] - s["t0"]
        base = self.spans[0]["t0"] if self.spans else 0.0
        spans = [
            {
                "id": s["id"],
                "parent": s["parent"],
                "name": s["name"],
                "start_s": s["t0"] - base,
                "dur_s": s["t1"] - s["t0"],
                "self_s": s["t1"] - s["t0"] - covered[s["id"]],
                "attrs": s["attrs"],
            }
            for s in self.spans
        ]
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            json.dump({**extra, "spans": spans}, fh, default=jsonable)


def jsonable(o):
    """json.dump fallback: numpy scalars become Python numbers."""
    return o.item() if hasattr(o, "item") else str(o)


def spark_counts(sc, group: str) -> dict:
    """Jobs, stages, tasks and failed tasks Spark ran under one job group,
    read from the status tracker after the loop, once its listener caught
    up. `max_stage_tasks` is the widest stage (a scan's partition count)."""
    st = sc.statusTracker()
    jobs = st.getJobIdsForGroup(group)
    stages, failed, stage_tasks = 0, 0, []
    for j in jobs:
        info = st.getJobInfo(j)
        for sid in info.stageIds if info else ():
            stages += 1
            si = st.getStageInfo(sid)
            if si is not None:
                stage_tasks.append(si.numTasks)
                failed += si.numFailedTasks
    return {
        "jobs": len(jobs),
        "stages": stages,
        "tasks": sum(stage_tasks),
        "tasks_failed": failed,
        "max_stage_tasks": max(stage_tasks, default=0),
    }


def _stat_fields(pid: int) -> list[str] | None:
    """Fields of /proc/<pid>/stat after the command name, or None."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().rsplit(")", 1)[1].split()
    except (OSError, IndexError):
        return None


def alive(pid: int) -> bool:
    f = _stat_fields(pid)
    return f is not None and f[0] != "Z"


class ProcessTree:
    """This process and everything it started: the driver JVM, the pyspark
    daemon and its Python workers. A sampler thread keeps each process's
    kernel-reported peak resident set (VmHWM); `peak_mb` sums those peaks,
    an upper bound of the tree's simultaneous peak that does not depend on
    when a sample happened to land."""

    def __init__(self, period_s: float = 1.0) -> None:
        self.root = os.getpid()
        self.period_s = period_s
        self.hwm_kb: dict[int, int] = {}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def pids(self) -> list[int]:
        children: dict[int, list[int]] = defaultdict(list)
        for d in os.listdir("/proc"):
            f = _stat_fields(int(d)) if d.isdigit() else None
            if f is not None:
                children[int(f[1])].append(int(d))
        out, todo = [], [self.root]
        while todo:
            p = todo.pop()
            out.append(p)
            todo.extend(children.get(p, ()))
        return out

    def sample(self) -> None:
        for pid in self.pids():
            try:
                with open(f"/proc/{pid}/status") as fh:
                    kb = next(
                        (int(ln.split()[1]) for ln in fh if ln.startswith("VmHWM:")), 0
                    )
            except (OSError, ValueError):
                continue
            self.hwm_kb[pid] = max(self.hwm_kb.get(pid, 0), kb)

    def _loop(self) -> None:
        while not self._stop.wait(self.period_s):
            self.sample()

    def start(self) -> None:
        self._thread.start()

    def stop(self) -> None:
        if self._thread.is_alive():
            self._stop.set()
            self._thread.join()
            self.sample()

    def peak_mb(self) -> float:
        return sum(self.hwm_kb.values()) / 1024


def stop_spark(spark, tree: ProcessTree, timeout_s: float = 60) -> None:
    """Stop Spark, close the gateway JVM's stdin (it exits on EOF, and its
    Python workers exit with it), and wait until every process the run
    started has ended. Raises if one outlives the timeout."""
    started = [p for p in tree.pids() if p != tree.root]
    proc = getattr(spark.sparkContext._gateway, "proc", None)
    spark.stop()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=timeout_s)
        except subprocess.TimeoutExpired:
            proc.terminate()
            proc.wait(timeout=timeout_s)
    deadline = time.monotonic() + timeout_s
    while any(map(alive, started)):
        if time.monotonic() > deadline:
            raise RuntimeError(
                f"processes still running after Spark stopped: "
                f"{[p for p in started if alive(p)]}"
            )
        time.sleep(0.2)
