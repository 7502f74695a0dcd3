"""Measurements taken from outside the program: the process tree under
/proc (psutil is not available) and Spark's status stores.

Nothing here changes what the program does; every number is read after
the fact from the kernel or from the listener-fed stores Spark keeps
with ``spark.ui.enabled=false``.
"""

from __future__ import annotations

import os
import re
import signal
import statistics
import threading
import time

_CLK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat(pid: int) -> tuple[int, int, str] | None:
    """(ppid, cpu ticks incl. reaped children, state) of one process."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            raw = fh.read()
    except OSError:
        return None
    f = raw[raw.rindex(")") + 2:].split()
    # after "pid (comm)": state ppid ... utime stime cutime cstime
    return int(f[1]), sum(int(x) for x in f[11:15]), f[0]


def tree_pids(root: int | None = None) -> list[int]:
    """The root process and all of its live descendants."""
    root = root or os.getpid()
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st is not None:
                kids.setdefault(st[0], []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, ()))
    return out


def tree_cpu_s() -> float:
    """CPU seconds of the process tree: driver, JVM, Python daemon and
    workers.  Workers the daemon has reaped stay counted through its
    cutime/cstime."""
    ticks = 0
    for pid in tree_pids():
        st = _stat(pid)
        if st is not None:
            ticks += st[1]
    return ticks / _CLK


def host_cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies of the whole host from /proc/stat: the share
    a hypervisor took from this machine's CPUs explains wall-time noise
    that no change to the program causes."""
    with open("/proc/stat") as fh:
        f = [int(x) for x in fh.readline().split()[1:]]
    return f[7], sum(f[:8])


def tree_rss_bytes() -> dict[str, int]:
    """Resident bytes of the process tree by command name.

    A child the JVM has forked but not yet exec'd still maps all of the
    JVM's memory under the JVM's executable; it is not counted, or the
    JVM would be counted twice whenever Spark spawns a process."""
    by: dict[str, int] = {}
    exe: dict[int, str] = {}
    for pid in tree_pids():
        try:
            exe[pid] = os.readlink(f"/proc/{pid}/exe")
            st = _stat(pid)
            with open(f"/proc/{pid}/comm") as fh:
                comm = fh.read().strip()
            with open(f"/proc/{pid}/statm") as fh:
                rss = int(fh.read().split()[1]) * _PAGE
        except OSError:
            continue
        if st is None or (
            os.path.basename(exe[pid]) == "java" and exe.get(st[0]) == exe[pid]
        ):
            continue
        by[comm] = by.get(comm, 0) + rss
    return by


class PeakRss:
    """Samples the tree's resident memory every ``period`` seconds while
    active; ``peak`` is the largest sample and ``by_command`` its split
    by command name."""

    def __init__(self, period: float = 0.1):
        self.period = period
        self.peak = 0
        self.by_command: dict[str, int] = {}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _sample(self) -> None:
        by = tree_rss_bytes()
        if sum(by.values()) > self.peak:
            self.peak, self.by_command = sum(by.values()), by

    def _run(self) -> None:
        while not self._stop.is_set():
            self._sample()
            self._stop.wait(self.period)

    def __enter__(self) -> "PeakRss":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
        self._sample()


def stop_tree(pids: list[int], timeout: float = 30.0) -> None:
    """Wait until every pid has ended (zombies count as ended); SIGKILL
    whatever is still running at the deadline and wait again."""

    def alive(pid: int) -> bool:
        st = _stat(pid)
        return st is not None and st[2] != "Z"

    me = os.getpid()
    pids = [p for p in pids if p != me]
    deadline = time.monotonic() + timeout
    while any(alive(p) for p in pids) and time.monotonic() < deadline:
        time.sleep(0.1)
    for p in pids:
        if alive(p):
            try:
                os.kill(p, signal.SIGKILL)
            except OSError:
                pass
    deadline = time.monotonic() + 10
    while any(alive(p) for p in pids) and time.monotonic() < deadline:
        time.sleep(0.1)


# ---------------------------------------------------------------------------
# Spark status stores

_UNITS = {
    "B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40,
    "ns": 1e-9, "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
}
_STAGE_RE = re.compile(r"\(stage (\d+)\.\d+: task")
_PYTHON_NODE_RE = re.compile(r"Pandas|EvalPython|InArrow")


def metric_total(text: str) -> float:
    """Total of a formatted SQL metric: '23', '16.0 MiB', '1.2 s' or the
    'total (min, med, max ...)\\n17.0 s (...)' form.  Bytes come back
    as bytes, times as seconds."""
    line = text.split("\n")[-1] if "\n" in text else text
    tok = line.split(" (")[0].replace(",", "").split()
    if not tok:
        return 0.0
    value = float(tok[0])
    return value * _UNITS[tok[1]] if len(tok) > 1 and tok[1] in _UNITS else value


class SparkProbe:
    """Reads executor totals, stage data and SQL plan metrics."""

    def __init__(self, spark):
        sc = spark.sparkContext
        self._jvm = sc._jvm
        self._gw = sc._gateway
        self._core = sc._jsc.sc()
        self._status = self._core.statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()

    def drain(self) -> None:
        """Block until the listener bus has delivered every event, so the
        stores reflect the action that just returned."""
        self._core.listenerBus().waitUntilEmpty(60_000)

    def shuffle_written(self) -> int:
        ex = self._status.executorList(False)
        return sum(ex.apply(i).totalShuffleWrite() for i in range(ex.size()))

    def mark(self) -> tuple[int, int]:
        """Watermark (last stage id, last SQL execution id) before a call."""
        self.drain()
        return self._last_stage(), self._last_execution()

    def _stages(self):
        empty = self._jvm.java.util.ArrayList()
        quantiles = self._gw.new_array(self._jvm.double, 0)
        return self._status.stageList(empty, False, False, quantiles, empty)

    def _last_stage(self) -> int:
        st = self._stages()
        return max((st.apply(i).stageId() for i in range(st.size())), default=-1)

    def _last_execution(self) -> int:
        ex = self._sql.executionsList()
        return max(
            (ex.apply(i).executionId() for i in range(ex.size())), default=-1
        )

    def capture(self, since: tuple[int, int]) -> dict:
        """Every completed stage and SQL plan node since ``since``.

        Stages carry their metrics and task durations; nodes carry their
        parsed metric totals and the stages they ran in, read from the
        '(stage N.A: task T)' annotation Spark adds to per-task metrics.
        A node inside a whole-stage-codegen cluster inherits the
        cluster's stages."""
        self.drain()
        stage_floor, exec_floor = since
        stages = []
        st = self._stages()
        for i in range(st.size()):
            s = st.apply(i)
            if s.stageId() <= stage_floor or s.status().toString() != "COMPLETE":
                continue
            tasks = self._status.taskList(s.stageId(), s.attemptId(), 1 << 20)
            durs = []
            for k in range(tasks.size()):
                d = tasks.apply(k).duration()
                if d.isDefined():
                    durs.append(d.get() / 1000.0)
            sub, comp = s.submissionTime(), s.completionTime()
            stages.append(dict(
                id=s.stageId(), name=s.name(), tasks=s.numCompleteTasks(),
                run_s=s.executorRunTime() / 1000.0,
                cpu_s=s.executorCpuTime() / 1e9,
                gc_s=s.jvmGcTime() / 1000.0,
                shuffle_read=s.shuffleReadBytes(),
                shuffle_write=s.shuffleWriteBytes(),
                spill=s.memoryBytesSpilled() + s.diskBytesSpilled(),
                start=sub.get().getTime() / 1000.0 if sub.isDefined() else None,
                end=comp.get().getTime() / 1000.0 if comp.isDefined() else None,
                task_s=durs,
            ))
        nodes = []
        ex = self._sql.executionsList()
        for i in range(ex.size()):
            eid = ex.apply(i).executionId()
            if eid <= exec_floor:
                continue
            values = self._sql.executionMetrics(eid)
            graph = self._sql.planGraph(eid)
            top = graph.nodes()
            for k in range(top.size()):
                self._walk(top.apply(k), values, eid, nodes, ())
        stage_ids = {s["id"] for s in stages}
        for n in nodes:
            n["stages"] = sorted(set(n["stages"]) & stage_ids)
        return dict(stages=stages, nodes=nodes)

    def _walk(self, node, values, eid, out, inherited) -> None:
        metrics, own = {}, set()
        ms = node.metrics()
        for k in range(ms.size()):
            m = ms.apply(k)
            v = values.get(m.accumulatorId())
            if v.isDefined():
                text = v.get()
                metrics[m.name()] = metric_total(text)
                own.update(int(x) for x in _STAGE_RE.findall(text))
        stages = tuple(own | set(inherited))
        out.append(dict(
            execution=eid, name=node.name(), desc=node.desc()[:300],
            metrics=metrics, stages=list(stages),
        ))
        if node.getClass().getSimpleName() == "SparkPlanGraphCluster":
            children = node.nodes()
            for k in range(children.size()):
                self._walk(children.apply(k), values, eid, out, stages)


def is_python_node(node: dict) -> bool:
    return bool(_PYTHON_NODE_RE.search(node["name"]))


def straggler_ratio(durations: list[float]) -> float:
    """max / median task time of one stage (1.0 = perfectly even)."""
    if not durations:
        return 0.0
    med = statistics.median(durations)
    return max(durations) / med if med > 0 else 0.0
