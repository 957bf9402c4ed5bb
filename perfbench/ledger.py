"""Measurement plumbing for the benchmark: process-tree CPU and host noise
from ``/proc``, per-stage Spark metrics from the in-process status store,
and an in-memory span recorder.

Nothing here imports the engine; the workloads wrap engine calls with it.
"""

from __future__ import annotations

import os
import time
from contextlib import contextmanager

CLK_TCK = os.sysconf("SC_CLK_TCK")


# ---------------------------------------------------------------------------
# /proc: process-tree CPU, peak RSS, host reclaim noise
# ---------------------------------------------------------------------------

def _proc_stats() -> dict[int, tuple[int, float]]:
    """pid -> (ppid, utime+stime+cutime+cstime in seconds) for every
    process visible in /proc."""
    out = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat", "rb") as f:
                raw = f.read()
        except OSError:
            continue              # exited between listdir and open
        # comm may contain spaces and parentheses: split after the last ')'
        fields = raw[raw.rfind(b")") + 2:].split()
        # fields[0] is state (stat field 3); ppid is field 4, utime..cstime
        # are fields 14..17
        out[int(name)] = (int(fields[1]),
                          sum(int(v) for v in fields[11:15]) / CLK_TCK)
    return out


def _tree(stats: dict) -> set[int]:
    """This process and its live descendants, from ``_proc_stats()``."""
    children: dict[int, list[int]] = {}
    for pid, (ppid, _) in stats.items():
        children.setdefault(ppid, []).append(pid)
    out, todo = {os.getpid()}, [os.getpid()]
    while todo:
        for c in children.get(todo.pop(), ()):
            if c not in out:
                out.add(c)
                todo.append(c)
    return out


def descendants() -> set[int]:
    """Live descendants of this process."""
    return _tree(_proc_stats()) - {os.getpid()}


def tree_cpu_s() -> float:
    """CPU seconds used so far by this process and every live
    descendant: driver Python, the Spark JVM and its Python workers.
    Children that already exited are included through their parent's
    cutime/cstime."""
    stats = _proc_stats()
    return sum(stats[p][1] for p in _tree(stats) if p in stats)


def reset_peak_rss() -> None:
    """Restart this process's resident-set high-water mark (VmHWM) at its
    current RSS, so ``peak_rss_mb`` leaves out what came before."""
    with open("/proc/self/clear_refs", "w") as f:
        f.write("5")


def peak_rss_mb() -> float:
    """High-water resident set of this (the driver) process since the
    last ``reset_peak_rss``."""
    with open("/proc/self/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("VmHWM missing from /proc/self/status")


def cpu_ticks() -> tuple[int, int]:
    """(busy, stolen) clock ticks summed over the host's CPUs, from the
    "cpu" line of /proc/stat (user nice system idle iowait irq softirq
    steal ...)."""
    with open("/proc/stat") as f:
        t = [int(v) for v in f.readline().split()[1:9]]
    return t[0] + t[1] + t[2] + t[5] + t[6], t[7]


def steal_share(before: tuple[int, int], after: tuple[int, int]) -> float:
    """Share of the time CPUs wanted to run between two ``cpu_ticks()``
    readings that the hypervisor gave to other guests instead."""
    busy, steal = after[0] - before[0], after[1] - before[1]
    return steal / max(1, busy + steal)


def host_counters() -> dict:
    """Reclaim counters, CPU steal and load: runs whose window saw page
    scanning or stealing, or a large share of stolen CPU time, were slowed
    by the host, not by the program."""
    scan = steal = 0
    with open("/proc/vmstat") as f:
        for line in f:
            key, val = line.split()
            if key.startswith("pgscan_"):
                scan += int(val)
            elif key.startswith("pgsteal_"):
                steal += int(val)
    with open("/proc/loadavg") as f:
        load1 = float(f.read().split()[0])
    return {"pgscan": scan, "pgsteal": steal, "loadavg1": load1,
            "cpu": cpu_ticks()}


def host_delta(before: dict, after: dict) -> dict:
    return {"pgscan": after["pgscan"] - before["pgscan"],
            "pgsteal": after["pgsteal"] - before["pgsteal"],
            "cpu_steal_share": steal_share(before["cpu"], after["cpu"]),
            "loadavg1_start": before["loadavg1"],
            "loadavg1_end": after["loadavg1"]}


# ---------------------------------------------------------------------------
# Spark status store
# ---------------------------------------------------------------------------

def _opt_ms(opt) -> float | None:
    """scala.Option[java.util.Date] -> epoch seconds, or None."""
    return opt.get().getTime() / 1000.0 if opt.isDefined() else None


def group_stages(sc, group: str) -> list[dict]:
    """Every executed stage of every job launched under job group
    ``group``. Read right after the call: the status store evicts old
    stages. Skipped stages (their shuffle output was reused) carry no
    work and are left out."""
    store = sc._jsc.sc().statusStore()
    stages, seen = [], set()
    for jid in sorted(sc.statusTracker().getJobIdsForGroup(group)):
        sids = store.job(jid).stageIds()       # a Scala Seq
        for i in range(sids.size()):
            sid = sids.apply(i)
            if sid in seen:
                continue
            seen.add(sid)
            s = store.lastStageAttempt(sid)
            start = _opt_ms(s.submissionTime())
            if start is None or str(s.status()) == "SKIPPED":
                continue
            stages.append({
                "job": jid,
                "stage": sid,
                "start": start,
                "end": _opt_ms(s.completionTime()) or start,
                "tasks": s.numTasks(),
                "run_s": s.executorRunTime() / 1e3,
                "jvm_cpu_s": s.executorCpuTime() / 1e9,
                "gc_s": s.jvmGcTime() / 1e3,
                "shuffle_write_mb": s.shuffleWriteBytes() / 1e6,
                "shuffle_read_mb": s.shuffleReadBytes() / 1e6,
                "shuffle_write_records": s.shuffleWriteRecords(),
                "shuffle_read_records": s.shuffleReadRecords(),
                "spill_mb": (s.memoryBytesSpilled()
                             + s.diskBytesSpilled()) / 1e6,
            })
    return stages


def union_s(intervals) -> float:
    """Wall seconds covered by the union of (start, end) intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def sum_stages(stages: list[dict]) -> dict:
    keys = ("tasks", "run_s", "jvm_cpu_s", "gc_s", "shuffle_write_mb",
            "shuffle_read_mb", "shuffle_write_records",
            "shuffle_read_records", "spill_mb")
    out = {k: sum(s[k] for s in stages) for k in keys}
    out["wall_s"] = union_s((s["start"], s["end"]) for s in stages)
    out["jobs"] = len({s["job"] for s in stages})
    return out


# ---------------------------------------------------------------------------
# Spans
# ---------------------------------------------------------------------------

class Tracer:
    """In-memory span recorder. A span is one call into a layer, made
    from the benchmark; Spark-side sub-spans come from stage intervals.
    Spans are written out once, at the end, each with its self time."""

    def __init__(self, sc):
        self.sc = sc
        self.spans: list[dict] = []
        self._n = 0

    def _new(self, name, parent, start, end, **attrs) -> dict:
        self._n += 1
        span = {"id": self._n, "name": name,
                "parent": parent["id"] if parent else None,
                "start": start, "end": end, **attrs}
        self.spans.append(span)
        return span

    @contextmanager
    def span(self, name: str, parent: dict | None = None, spark: bool = True,
             enabled: bool = True):
        """Time one layer call. With ``spark``, label its Spark jobs with
        a fresh job group and attach their stage metrics afterwards."""
        if not enabled:
            yield None
            return
        group = f"perfbench-{self._n + 1}-{name}"
        if spark:
            self.sc.setJobGroup(group, name)
        cpu0 = tree_cpu_s()
        t0 = time.time()            # epoch seconds, as Spark stamps stages
        span = self._new(name, parent, t0, t0)
        try:
            yield span
        finally:
            span["end"] = time.time()
            span["tree_cpu_s"] = tree_cpu_s() - cpu0
            if spark:
                span["stages"] = group_stages(self.sc, group)
                self.sc.setJobGroup(f"perfbench-idle-{self._n}", "idle")

    def child(self, name: str, parent: dict, start: float, end: float,
              **attrs) -> dict:
        """A sub-span derived after the fact (e.g. from stage times)."""
        return self._new(name, parent, start, end, **attrs)

    def self_times(self) -> dict[int, float]:
        """span id -> duration minus the union of its children."""
        kids: dict[int, list[dict]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                kids.setdefault(s["parent"], []).append(s)
        return {s["id"]: (s["end"] - s["start"])
                - union_s((c["start"], c["end"])
                          for c in kids.get(s["id"], ()))
                for s in self.spans}

    def records(self) -> list[dict]:
        selfs = self.self_times()
        out = []
        for s in self.spans:
            rec = dict(s)
            rec["self_s"] = selfs[s["id"]]
            rec["wall_s"] = s["end"] - s["start"]
            if "stages" in s:
                rec["spark"] = sum_stages(s["stages"])
            out.append(rec)
        return out
