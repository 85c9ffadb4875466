"""Spans around calls into the engine's layers, and process memory.

A span times one call from the benchmark's side. When tracing is on, each
span runs in its own Spark job group; when it closes, the group's jobs and
their stages are read from the status store before
``spark.ui.retainedStages`` can evict them. Spans stay in memory and are
written out as JSON when the run ends.
"""

from __future__ import annotations

import json
import os
import time
from contextlib import contextmanager

# stage counters read from the status store, summed over a span's stages
_STAGE_FIELDS = {
    "tasks": "numCompleteTasks",
    "failed_tasks": "numFailedTasks",
    "exec_run_ms": "executorRunTime",
    "exec_cpu_ns": "executorCpuTime",
    "shuffle_read_bytes": "shuffleReadBytes",
    "shuffle_write_bytes": "shuffleWriteBytes",
    "mem_spill_bytes": "memoryBytesSpilled",
    "disk_spill_bytes": "diskBytesSpilled",
    "gc_ms": "jvmGcTime",
}


class Tracer:
    """Records spans. With ``enabled=False`` a span only times its body,
    which is what the untraced run uses for its set-up phases."""

    def __init__(self, spark, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._spark = spark
        self._n = 0

    def attach(self, spark) -> None:
        self._spark = spark

    @contextmanager
    def span(self, name: str, parent: str | None = None, **attrs):
        rec = {"name": name, "parent": parent, **attrs}
        sc = self._spark.sparkContext if (
            self.enabled and self._spark is not None) else None
        group = None
        if sc is not None:
            group = f"perfbench-{os.getpid()}-{self._n}"
            self._n += 1
            sc.setJobGroup(group, name)
        rec["start"] = time.time()
        t0 = time.perf_counter()
        try:
            yield rec
        finally:
            rec["wall_s"] = time.perf_counter() - t0
            rec["end"] = rec["start"] + rec["wall_s"]
            if sc is not None:
                sc.setJobGroup(None, None)
                rec.update(_group_metrics(sc, group))
            self.spans.append(rec)

    def of(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name]

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump(self.spans, fh, indent=1, default=str)


def _group_metrics(sc, group: str) -> dict:
    """Jobs, stages and summed stage counters of one job group."""
    # task-end events reach the status store through the listener bus;
    # drain it so the last stage's counters are final
    jsc = sc._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    tracker = sc.statusTracker()
    jobs = list(tracker.getJobIdsForGroup(group))
    stage_ids: set[int] = set()
    for j in jobs:
        info = tracker.getJobInfo(j)
        if info is not None:
            stage_ids.update(list(info.stageIds))
    out = {"jobs": len(jobs), "stages": 0}
    out.update({k: 0 for k in _STAGE_FIELDS})
    store = jsc.statusStore()
    from py4j.protocol import Py4JError

    for sid in stage_ids:
        try:
            sd = store.lastStageAttempt(sid)
        except Py4JError:  # skipped stage: its shuffle output was reused
            continue
        if str(sd.status()) == "SKIPPED":
            continue
        out["stages"] += 1
        for k, getter in _STAGE_FIELDS.items():
            out[k] += int(getattr(sd, getter)())
    return out


def _status_kb(pid: int, field: str) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith(field + ":"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


_CLK_TCK = os.sysconf("SC_CLK_TCK")


def _procs() -> dict[int, tuple[int, int]]:
    """pid -> (parent pid, CPU ticks of the process and of the children it
    has reaped) for every process in /proc."""
    out = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            try:
                with open(f"/proc/{name}/stat") as fh:
                    f = fh.read().rsplit(")", 1)[1].split()
            except OSError:
                continue
            # after the command, from the state at 0: ppid is 1, utime,
            # stime, cutime and cstime are 11-14
            out[int(name)] = (int(f[1]), sum(int(x) for x in f[11:15]))
    return out


def descendants(pid: int, procs: dict | None = None) -> list[int]:
    """Every process below ``pid``, exited ones not yet reaped included."""
    procs = _procs() if procs is None else procs
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        kids = [c for c, (pp, _) in procs.items() if pp == p]
        out.extend(kids)
        todo.extend(kids)
    return out


def tree_cpu_s(pid: int) -> float:
    """CPU seconds (user + system) used so far by ``pid`` and every process
    below it, the children they have already reaped included, so the total
    does not drop when a worker exits."""
    procs = _procs()
    return sum(procs[p][1] for p in [pid] + descendants(pid, procs)
               if p in procs) / _CLK_TCK


def peak_rss_mb(spark) -> float:
    """Sum of VmHWM of this driver process and the JVM. The forked Python
    workers under the JVM are left out: how many of them are alive when a
    run ends varies from run to run, and they share most pages with the
    daemon they fork from."""
    jvm = spark.sparkContext._gateway.proc.pid
    return sum(_status_kb(p, "VmHWM") for p in (os.getpid(), jvm)) / 1024.0
