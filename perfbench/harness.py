"""Measurement plumbing shared by every workload.

* :class:`ProcTree` — CPU seconds and summed peak RSS of this process and
  all of its descendants (the driver JVM and the Python workers), read
  from ``/proc``.
* :class:`HostNoise` — steal share and other-process CPU share of the
  host over a window, from ``/proc/stat``.
* :func:`frame_digest` / :func:`rows_digest` — an order-insensitive hash
  over every output column, computed by Spark on one side and by plain
  Python on the other, so a job's output can be compared with an
  independently computed expected result without collecting it.
* :class:`Tracer` — spans around calls into the engine's layers, with the
  Spark-side numbers (executor run time, shuffle bytes, failed tasks)
  read from the status store for a job group set around each span.
"""

from __future__ import annotations

import hashlib
import os
import statistics
import time
from contextlib import contextmanager

_CLK_TCK = os.sysconf("SC_CLK_TCK")
_SEP = "\x1f"
_NULL = "\\N"


# ---------------------------------------------------------------------------
# /proc readers
# ---------------------------------------------------------------------------


def _read_stat(pid: int) -> tuple[int, int] | None:
    """(ppid, utime+stime+cutime+cstime ticks) of one process."""
    try:
        with open(f"/proc/{pid}/stat", "rb") as f:
            raw = f.read().decode()
    except OSError:
        return None
    fields = raw[raw.rindex(")") + 2 :].split()
    return int(fields[1]), sum(int(x) for x in fields[11:15])


class ProcTree:
    """This process and its descendants."""

    def __init__(self, root_pid: int | None = None):
        self.root = root_pid or os.getpid()

    def pids(self) -> list[int]:
        children: dict[int, list[int]] = {}
        for name in os.listdir("/proc"):
            if name.isdigit():
                st = _read_stat(int(name))
                if st is not None:
                    children.setdefault(st[0], []).append(int(name))
        out, todo = [], [self.root]
        while todo:
            p = todo.pop()
            out.append(p)
            todo.extend(children.get(p, []))
        return out

    def cpu_s(self) -> float:
        ticks = 0
        for p in self.pids():
            st = _read_stat(p)
            if st is not None:
                ticks += st[1]
        return ticks / _CLK_TCK

    def peak_rss_bytes(self) -> int:
        """Sum over the live processes of their peak resident set
        (``VmHWM``, kept by the kernel, so no sampling gaps)."""
        total = 0
        for p in self.pids():
            try:
                with open(f"/proc/{p}/status") as f:
                    total += next((int(line.split()[1]) * 1024 for line in f
                                   if line.startswith("VmHWM:")), 0)
            except OSError:
                pass
        return total


def _cpu_line() -> list[int]:
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


class HostNoise:
    """Steal and other-process CPU shares of the host over a window.

    ``/proc/stat`` counts every CPU of the host; the share of it that this
    process tree did not use while the host was busy is co-tenant load."""

    def __init__(self, tree: ProcTree):
        self.tree = tree

    def __enter__(self) -> "HostNoise":
        self._cpu0 = _cpu_line()
        self._own0 = self.tree.cpu_s()
        return self

    def __exit__(self, *exc) -> None:
        d = [b - a for a, b in zip(self._cpu0, _cpu_line())]
        total = max(1, sum(d[:8]))  # user..steal; guest is inside user
        user, nice, system, _idle, _iow, irq, softirq, steal = d[:8]
        busy = (user + nice + system + irq + softirq) / _CLK_TCK
        own = self.tree.cpu_s() - self._own0
        self.steal_share = steal / total
        self.other_cpu_share = max(0.0, busy - own) * _CLK_TCK / total


# ---------------------------------------------------------------------------
# order-insensitive output digest
# ---------------------------------------------------------------------------


def frame_digest(df, cols) -> tuple[int, int, int]:
    """(rows, h1, h2) of a DataFrame: per row md5 over every column in
    ``cols`` (names or Columns, rendered as strings, nulls as ``\\N``),
    summed in two 32-bit halves.  A hash aggregate, so Spark computes
    every column and cannot prune any."""
    from pyspark.sql import functions as F

    parts = [F.coalesce(F.col(c).cast("string") if isinstance(c, str) else c.cast("string"),
                        F.lit(_NULL)) for c in cols]
    m = F.md5(F.concat_ws(_SEP, *parts))
    r = (
        df.select(m.alias("m"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.coalesce(F.sum(F.conv(F.substring("m", 1, 8), 16, 10).cast("long")), F.lit(0)),
            F.coalesce(F.sum(F.conv(F.substring("m", 9, 8), 16, 10).cast("long")), F.lit(0)),
        )
        .collect()[0]
    )
    return int(r[0]), int(r[1]), int(r[2])


def rows_digest(rows) -> tuple[int, int, int]:
    """The Python twin of :func:`frame_digest` over an iterable of tuples
    already rendered as Spark renders them."""
    n = h1 = h2 = 0
    md5 = hashlib.md5
    for row in rows:
        d = md5(_SEP.join(_NULL if v is None else str(v) for v in row).encode()).hexdigest()
        n += 1
        h1 += int(d[:8], 16)
        h2 += int(d[8:16], 16)
    return n, h1, h2


# ---------------------------------------------------------------------------
# tracing
# ---------------------------------------------------------------------------

SPAN_METRICS = ("wall_s", "self_s", "task_s", "shuffle_bytes", "tasks_failed")


class Tracer:
    """Spans around calls into the engine's layers.

    A span records its wall time, and — when ``spark`` is true — sets a
    Spark job group so the executor run time, shuffle write bytes and
    failed tasks of the jobs it launched can be read back from the status
    store.  Task-side numbers are inclusive of child spans; ``self_s`` is
    the wall time minus the child spans' wall time.  Spans are summed per
    *unit* (one set-up or one job); :meth:`summary` reports the median
    over units.  Disabled, every method is a pass-through."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.sc = None
        self.units: list[dict[str, dict[str, float]]] = []
        self.counters: dict[str, list[float]] = {}
        self._stack: list[dict] = []
        self._seq = 0
        self.stage_runs: dict[str, list[tuple[int, int, int]]] = {}
        self._persisted: list = []

    # -- units ------------------------------------------------------------
    def begin_unit(self) -> None:
        if self.enabled:
            self.units.append({})

    def count(self, name: str, value: float) -> None:
        if self.enabled:
            self.counters.setdefault(name, []).append(float(value))

    # -- spans ------------------------------------------------------------
    @contextmanager
    def span(self, name: str, spark: bool = True):
        if not self.enabled:
            yield
            return
        sc = self.sc if spark else None
        group = prev = None
        if sc is not None:
            self._seq += 1
            group = f"perfbench-{self._seq}"
            prev = sc.getLocalProperty("spark.jobGroup.id")
            sc.setJobGroup(group, name)
        rec = {"child_wall": 0.0, "child_task": 0.0, "child_shuffle": 0, "child_failed": 0}
        self._stack.append(rec)
        t0 = time.perf_counter()
        try:
            yield
        finally:
            wall = time.perf_counter() - t0
            self._stack.pop()
            task_s = shuffle = failed = 0
            if sc is not None:
                sc.setLocalProperty("spark.jobGroup.id", prev)
                task_s, shuffle, failed, stages = _group_stats(sc, group)
                self.stage_runs.setdefault(name, []).extend(stages)
            m = {
                "wall_s": wall,
                "self_s": wall - rec["child_wall"],
                "task_s": task_s + rec["child_task"],
                "shuffle_bytes": shuffle + rec["child_shuffle"],
                "tasks_failed": failed + rec["child_failed"],
            }
            if self._stack:
                parent = self._stack[-1]
                parent["child_wall"] += wall
                parent["child_task"] += m["task_s"]
                parent["child_shuffle"] += m["shuffle_bytes"]
                parent["child_failed"] += m["tasks_failed"]
            if not self.units:
                self.units.append({})
            acc = self.units[-1].setdefault(name, dict.fromkeys(SPAN_METRICS, 0.0))
            for k, v in m.items():
                acc[k] += v

    def call(self, name: str, fn, *args, **kwargs):
        """``fn(*args, **kwargs)`` inside a span.  A DataFrame result (or
        a tuple of them) is persisted and computed with the digest before
        the span closes, so the span holds the layer's own work; the
        caller releases it with :meth:`release`."""
        if not self.enabled:
            return fn(*args, **kwargs)
        with self.span(name):
            out = fn(*args, **kwargs)
            for df in out if isinstance(out, tuple) else (out,):
                if _is_frame(df):
                    df.persist()
                    self._persisted.append(df)
                    frame_digest(df, df.columns)
        return out

    def release(self) -> None:
        for df in self._persisted:
            df.unpersist()
        self._persisted = []

    def task_skew(self, name: str) -> float:
        """max / median task run time in the heaviest stage of a span."""
        runs = self.stage_runs.get(name)
        if not runs or self.sc is None:
            return 0.0
        _, sid, attempt = max(runs)
        store = self.sc._jsc.sc().statusStore()
        tl = store.taskList(sid, attempt, 1 << 20)
        times = []
        for i in range(tl.size()):
            tm = tl.apply(i).taskMetrics()
            if tm.isDefined():
                times.append(tm.get().executorRunTime())
        med = statistics.median(times) if times else 0
        return max(times) / med if med else 0.0

    def summary(self) -> dict[str, float]:
        out: dict[str, float] = {}
        names = sorted({n for u in self.units for n in u})
        for n in names:
            vals = [u[n] for u in self.units if n in u]
            for k in SPAN_METRICS:
                out[f"{n}.{k}"] = statistics.median(v[k] for v in vals)
        for n, vals in self.counters.items():
            out[n] = statistics.median(vals)
        return out


def _is_frame(x) -> bool:
    return hasattr(x, "persist") and hasattr(x, "columns")


def _group_stats(sc, group: str):
    """(executor run s, shuffle write bytes, failed tasks, stage list) of
    every job in a job group, once the listener has seen them finish."""
    from py4j.protocol import Py4JJavaError

    st = sc.statusTracker()
    store = sc._jsc.sc().statusStore()
    run_ms = shuffle = failed = 0
    stages: list[tuple[int, int, int]] = []
    for jid in st.getJobIdsForGroup(group):
        deadline = time.monotonic() + 5
        info = st.getJobInfo(jid)
        while info is not None and info.status == "RUNNING" and time.monotonic() < deadline:
            time.sleep(0.01)
            info = st.getJobInfo(jid)
        if info is None:
            continue
        for sid in info.stageIds:
            try:
                sd = store.lastStageAttempt(sid)
            except Py4JJavaError:
                continue
            run_ms += sd.executorRunTime()
            shuffle += sd.shuffleWriteBytes()
            failed += sd.numFailedTasks()
            stages.append((sd.executorRunTime(), sid, sd.attemptId()))
    return run_ms / 1000.0, shuffle, failed, stages


def plan_nodes(df):
    """Every node of ``df``'s executed plan once, as (class name, node,
    class names of its ancestors).  Walks adaptive stages, reused
    exchanges and cached relations (whose plan holds the metrics of the
    run that materialized the cache)."""
    seen: set[int] = set()
    todo = [(df._jdf.queryExecution().executedPlan(), ())]
    while todo:
        node, up = todo.pop()
        if node.id() in seen:
            continue
        seen.add(node.id())
        cls = node.getClass().getSimpleName()
        if cls == "AdaptiveSparkPlanExec":
            todo.append((node.executedPlan(), up))
            continue
        if cls.endswith("QueryStageExec"):
            todo.append((node.plan(), up))
            continue
        if cls == "InMemoryTableScanExec":
            todo.append((node.relation().cachedPlan(), up))
        if cls == "ReusedExchangeExec":
            todo.append((node.child(), up))
        yield cls, node, up
        children = node.children()
        for i in range(children.size()):
            todo.append((children.apply(i), up + (cls,)))


def node_metric(node, name: str) -> int:
    metrics = node.metrics()
    return int(metrics.apply(name).value()) if metrics.contains(name) else 0


def plan_rows(df, key_fragment: str) -> int:
    """Smallest ``numOutputRows`` among executed-plan nodes of ``df`` whose
    description contains ``key_fragment`` (e.g. the final aggregate of a
    ``dropDuplicates``)."""
    rows = [node_metric(node, "numOutputRows") for _, node, _ in plan_nodes(df)
            if key_fragment in node.simpleString(1000)
            and node.metrics().contains("numOutputRows")]
    return min(rows, default=0)
