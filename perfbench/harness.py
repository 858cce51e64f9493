"""Host-fit session, /proc process-tree counters, Spark stage metrics and
the span tracer used by the workloads.

Spans are kept in memory and written once at exit.  Each span tags the
Spark jobs it starts with its own job group; on exit it reads those
jobs' stages from the JVM status store (works with the UI disabled).
Untraced runs use one job group per pass, so per-pass Spark counters
(shuffle bytes) are still available without per-layer spans.
"""

from __future__ import annotations

import contextlib
import json
import os
import statistics
import sys
import time

ROOT = os.getcwd()
WORK = os.path.join(ROOT, ".bench_cache", "perfbench")


# ---------------------------------------------------------------------------
# host-fit launch


def host_fit_env() -> int:
    """Environment for a local[nproc] session that writes only under the
    checkout: Spark scratch, JVM and Python temp files, and a PYTHONPATH
    so Python workers can import the engine.  Returns nproc."""
    nproc = len(os.sched_getaffinity(0))
    local = os.path.join(WORK, "spark-local")
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(local, exist_ok=True)
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_GRAFT_CPUS"] = str(nproc)
    path = os.environ.get("PYTHONPATH", "")
    if ROOT not in path.split(os.pathsep):
        os.environ["PYTHONPATH"] = ROOT + (os.pathsep + path if path else "")
    return nproc


def driver_heap() -> str:
    """Driver heap from host RAM: a sixth of MemTotal, 1–4 GB."""
    with open("/proc/meminfo") as f:
        kb = next(int(line.split()[1]) for line in f if line.startswith("MemTotal:"))
    return f"{max(1, min(4, kb // (6 << 20)))}g"


def start_session(nproc: int):
    from osm_chordify_spark import get_spark

    tmp = os.environ["TMPDIR"]
    java_opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    return get_spark(
        app_name="perfbench",
        master=f"local[{nproc}]",
        extra_conf={
            "spark.driver.memory": driver_heap(),
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": os.environ["SPARK_LOCAL_DIRS"],
            "spark.driver.extraJavaOptions": java_opts,
        },
    )


def since_process_start() -> float:
    """Seconds since this process was created (from /proc, so interpreter
    start-up counts)."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def vcpu_times() -> tuple[float, float]:
    """(busy, stolen) CPU seconds summed over all vCPUs, from /proc/stat.
    Stolen time is time a vCPU was ready to run while the hypervisor ran
    another guest; idle vCPUs accrue none."""
    with open("/proc/stat") as f:
        user, nice, system, _idle, _iowait, irq, softirq, steal = (
            int(x) for x in f.readline().split()[1:9])
    tck = os.sysconf("SC_CLK_TCK")
    return (user + nice + system + irq + softirq) / tck, steal / tck


def steal_share(before: tuple[float, float], after: tuple[float, float]) -> float:
    """Stolen share of runnable vCPU time between two ``vcpu_times``
    readings: ``stolen / (busy + stolen)``, both summed over all vCPUs."""
    busy, stolen = after[0] - before[0], after[1] - before[1]
    return stolen / (busy + stolen) if busy + stolen > 0 else 0.0


def net_wall(wall: float, share: float) -> float:
    """Wall time scaled by the granted share of runnable vCPU time,
    ``wall · (1 − steal share)``: what the interval would have taken had
    the hypervisor not run other guests on this guest's busy vCPUs.

    A model, not a measurement: it assumes the stolen time fell evenly on
    the busy vCPUs, so it under-corrects a straggler task whose vCPU was
    the one stolen from, and it corrects nothing for contention that does
    not show as steal (shared caches, sibling hyperthreads)."""
    return wall * (1.0 - share)


# ---------------------------------------------------------------------------
# /proc process tree


def _tree_pids() -> list[int]:
    me = os.getpid()
    parent = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                parent[int(name)] = int(f.read().rsplit(")", 1)[1].split()[1])
        except OSError:
            continue
    tree, frontier = [me], [me]
    while frontier:
        frontier = [p for p, pp in parent.items() if pp in frontier]
        tree.extend(frontier)
    return tree


def tree_cpu_s() -> float:
    """utime+stime of this process and its descendants, plus the times of
    reaped children (so worker processes that exit still count)."""
    tck = os.sysconf("SC_CLK_TCK")
    total = 0
    for pid in _tree_pids():
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        total += sum(int(x) for x in fields[11:15])
    return total / tck


def tree_hwm_mb() -> float:
    """Summed VmHWM (peak resident set) over the process tree."""
    kb = 0
    for pid in _tree_pids():
        try:
            with open(f"/proc/{pid}/status") as f:
                kb += next((int(line.split()[1]) for line in f
                            if line.startswith("VmHWM:")), 0)
        except OSError:
            continue
    return kb / 1024.0


# ---------------------------------------------------------------------------
# Spark status store


def wait_listener(sc):
    """Drain the listener bus so the status store holds every finished
    job and stage before it is read."""
    sc._jsc.sc().listenerBus().waitUntilEmpty()


def group_stats(sc, group: str, with_task_max: bool = False) -> dict:
    """Jobs and stage metrics of one job group (units: s, bytes, ms
    epoch for the stage intervals)."""
    tracker = sc.statusTracker()
    store = sc._jsc.sc().statusStore()
    jobs = list(tracker.getJobIdsForGroup(group))
    sids = set()
    for j in jobs:
        info = tracker.getJobInfo(j)
        if info is not None:
            sids.update(info.stageIds)
    out = {"jobs": len(jobs), "stages": 0, "tasks": 0, "task_s": 0.0, "gc_s": 0.0,
           "shuffle_write_bytes": 0, "shuffle_write_records": 0,
           "shuffle_read_bytes": 0, "spill_bytes": 0, "max_task_s": 0.0,
           "intervals": []}
    for sid in sorted(sids):
        st = store.lastStageAttempt(sid)
        if str(st.status()) == "SKIPPED":
            continue
        out["stages"] += 1
        out["tasks"] += st.numTasks()
        out["task_s"] += st.executorRunTime() / 1000.0
        out["gc_s"] += st.jvmGcTime() / 1000.0
        out["shuffle_write_bytes"] += st.shuffleWriteBytes()
        out["shuffle_write_records"] += st.shuffleWriteRecords()
        out["shuffle_read_bytes"] += st.shuffleReadBytes()
        out["spill_bytes"] += st.diskBytesSpilled()
        sub, comp = st.submissionTime(), st.completionTime()
        if sub.isDefined() and comp.isDefined():
            out["intervals"].append((sub.get().getTime() / 1000.0,
                                     comp.get().getTime() / 1000.0))
        if with_task_max and st.numTasks():
            out["max_task_s"] = max(out["max_task_s"], _max_task_s(sc, store, st))
    return out


def _max_task_s(sc, store, st) -> float:
    gw = sc._gateway
    q = gw.new_array(gw.jvm.double, 1)
    q[0] = 1.0
    summary = store.taskSummary(st.stageId(), st.attemptId(), q)
    if not summary.isDefined():
        return 0.0
    return summary.get().executorRunTime().apply(0) / 1000.0


def union_len(intervals, lo: float, hi: float) -> float:
    """Length of the union of [a, b] intervals clipped to [lo, hi]."""
    total, cur_a, cur_b = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


# ---------------------------------------------------------------------------
# spans


class Tracer:
    """Span recorder.  With ``enabled=False`` only pass spans are kept
    (for their Spark group); layer spans become no-ops."""

    def __init__(self, sc, enabled: bool):
        self.sc = sc
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._n = 0

    @contextlib.contextmanager
    def span(self, name: str, *, pass_id=None, layer: bool = True, task_max=False):
        if layer and not self.enabled:
            yield None
            return
        self._n += 1
        parent = self._stack[-1] if self._stack else None
        sp = {"id": self._n, "name": name, "parent": parent["id"] if parent else None,
              "pass": pass_id if pass_id is not None else (parent or {}).get("pass"),
              "group": f"pb-{self._n}", "start": time.time()}
        self.sc.setJobGroup(sp["group"], name)
        self._stack.append(sp)
        try:
            yield sp
        finally:
            sp["end"] = time.time()
            self._stack.pop()
            if parent is not None:
                self.sc.setJobGroup(parent["group"], parent["name"])
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.spans.append(sp)
            sp["_task_max"] = task_max

    def collect(self):
        """Read the Spark stats of spans closed since the last call.  Run
        after every pass: the status store keeps only the most recent
        stages (``spark.ui.retainedStages``)."""
        wait_listener(self.sc)
        for sp in self.spans:
            if "spark" not in sp:
                sp["spark"] = group_stats(self.sc, sp["group"], sp.pop("_task_max", False))

    def resolve(self):
        """Subtree totals, driver idle time and child coverage of every
        span (pass spans include their children's jobs)."""
        self.collect()
        # children finish (and are appended) before their parent, so one
        # pass in list order builds every span's subtree total
        by_parent: dict = {}
        for sp in self.spans:
            by_parent.setdefault(sp["parent"], []).append(sp)
        for sp in self.spans:
            kids = by_parent.get(sp["id"], [])
            agg = dict(sp["spark"])
            agg["intervals"] = list(agg["intervals"])
            for k in kids:
                for key, v in k["total"].items():
                    if key == "intervals":
                        agg["intervals"].extend(v)
                    elif key == "max_task_s":
                        agg[key] = max(agg[key], v)
                    else:
                        agg[key] += v
            sp["total"] = agg
            wall = sp["end"] - sp["start"]
            sp["wall_s"] = wall
            sp["driver_idle_s"] = wall - union_len(agg["intervals"], sp["start"], sp["end"])
            sp["child_cover"] = (
                union_len([(k["start"], k["end"]) for k in kids], sp["start"], sp["end"]) / wall
                if kids and wall > 0 else None
            )

    def write(self, path: str):
        os.makedirs(os.path.dirname(path), exist_ok=True)
        slim = []
        for sp in self.spans:
            d = {k: v for k, v in sp.items() if k not in ("total",)}
            d["spark"] = {k: v for k, v in sp["total"].items() if k != "intervals"}
            d["stage_intervals"] = sp["total"]["intervals"]
            slim.append(d)
        with open(path, "w") as f:
            json.dump({"spans": slim}, f, indent=1)


def median(xs):
    xs = [x for x in xs if x is not None]
    return statistics.median(xs) if xs else 0.0


def log(*a):
    print(*a, file=sys.stderr, flush=True)
