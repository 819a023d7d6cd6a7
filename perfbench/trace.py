"""What the benchmark reads from outside the engine: the process tree's
memory and Python CPU from /proc, Spark's own status store and query
tracker, streaming progress, and (traced runs) the time spent in chosen
engine functions.  Nothing here changes what the engine does.
"""

from __future__ import annotations

import functools
import os
import sys
import threading
import time
from collections import defaultdict
from contextlib import contextmanager

_PAGE = os.sysconf("SC_PAGE_SIZE")
_TICK = os.sysconf("SC_CLK_TCK")


def proc_table() -> dict[int, tuple[int, int, int, str]]:
    """pid -> (ppid, rss_bytes, cpu_ticks incl. reaped children, cmdline)."""
    out = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
            with open(f"/proc/{d}/cmdline", "rb") as f:
                cmd = f.read().replace(b"\0", b" ").decode(errors="replace")
        except OSError:
            continue  # exited while we looked
        fields = stat[stat.rfind(")") + 2:].split()
        ppid = int(fields[1])
        cpu = sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
        out[int(d)] = (ppid, int(fields[21]) * _PAGE, cpu, cmd)
    return out


def descendants(table, root: int) -> list[int]:
    kids = defaultdict(list)
    for pid, (ppid, *_rest) in table.items():
        kids[ppid].append(pid)
    found, todo = [], [root]
    while todo:
        for k in kids.get(todo.pop(), ()):
            found.append(k)
            todo.append(k)
    return found


class ProcTree:
    """Samples the engine processes started by this process (spark-submit,
    the JVM, PySpark's daemon and workers) every ``interval_s``.

    ``peak_rss_bytes`` is the largest summed resident size seen;
    :meth:`sample` returns the CPU time of PySpark's worker processes so
    far, including workers that already exited (their time is in the
    daemon's reaped-children counters)."""

    def __init__(self, interval_s: float = 0.25) -> None:
        self.interval_s = interval_s
        self.peak_rss_bytes = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def start(self) -> "ProcTree":
        self._thread.start()
        return self

    def stop(self) -> None:
        self._stop.set()
        self._thread.join(timeout=10)
        self.sample()

    def _loop(self) -> None:
        while not self._stop.wait(self.interval_s):
            self.sample()

    def sample(self) -> float:
        """Update the RSS peak; return Python worker CPU seconds so far."""
        table = proc_table()
        pids = descendants(table, os.getpid())
        rss = sum(table[p][1] for p in pids if p in table)
        self.peak_rss_bytes = max(self.peak_rss_bytes, rss)
        ticks = sum(table[p][2] for p in pids
                    if p in table and "pyspark.daemon" in table[p][3])
        return ticks / _TICK


class StatusWindow:
    """Sums Spark's per-stage task metrics over the jobs and stages that
    start after :meth:`begin`, read from the status store Spark keeps for
    its own UI (populated even with the UI disabled)."""

    FIELDS = {
        "tasks": "numTasks",
        "executor_run_ms": "executorRunTime",
        "executor_cpu_ms": "executorCpuTime",  # ns, converted below
        "gc_ms": "jvmGcTime",
        "shuffle_read_bytes": "shuffleReadBytes",
        "shuffle_write_bytes": "shuffleWriteBytes",
        "spill_bytes": "memoryBytesSpilled",
    }

    def __init__(self, spark) -> None:
        self._sc = spark.sparkContext
        self._store = self._sc._jsc.sc().statusStore()
        self._job0 = self._stage0 = -1

    def _stages(self):
        jvm = self._sc._jvm
        seq = self._store.stageList(
            None, False, False, self._sc._gateway.new_array(jvm.double, 0),
            jvm.java.util.ArrayList())
        return [seq.apply(i) for i in range(seq.size())]

    def _job_ids(self) -> list[int]:
        seq = self._store.jobsList(None)
        return [seq.apply(i).jobId() for i in range(seq.size())]

    def begin(self) -> None:
        self._job0 = max(self._job_ids(), default=-1)
        self._stage0 = max((s.stageId() for s in self._stages()), default=-1)

    def totals(self) -> dict[str, float]:
        out = {k: 0.0 for k in self.FIELDS}
        stages = [s for s in self._stages() if s.stageId() > self._stage0]
        for s in stages:
            for key, getter in self.FIELDS.items():
                out[key] += getattr(s, getter)()
        out["executor_cpu_ms"] /= 1e6
        # skipped stages (shuffle reuse) ran no tasks; count stages that ran
        out["stages"] = float(sum(1 for s in stages if s.numCompleteTasks() > 0
                                  or s.numFailedTasks() > 0))
        out["jobs"] = float(sum(1 for j in self._job_ids() if j > self._job0))
        return out


PHASES = ("parsing", "analysis", "optimization", "planning")


def catalyst_phases_ms(df) -> dict[str, float]:
    """Catalyst phase times recorded by the frame's QueryPlanningTracker."""
    phases = df._jdf.queryExecution().tracker().phases()
    it = phases.iterator()
    out = {p: 0.0 for p in PHASES}
    while it.hasNext():
        kv = it.next()
        if kv._1() in out:
            out[kv._1()] = float(kv._2().durationMs())
    return out


def progress_listener(spark):
    """Register and return a StreamingQueryListener that keeps every
    progress report, as a dict, under ``.progress[query name]``."""
    import json

    from pyspark.sql.streaming import StreamingQueryListener

    class _Listener(StreamingQueryListener):
        def __init__(self) -> None:
            self.progress: dict[str, list[dict]] = defaultdict(list)
            self._lock = threading.Lock()

        def onQueryStarted(self, event) -> None:
            pass

        def onQueryProgress(self, event) -> None:
            p = json.loads(event.progress.json)
            with self._lock:
                self.progress[p.get("name") or p["id"]].append(p)

        def onQueryIdle(self, event) -> None:
            pass

        def onQueryTerminated(self, event) -> None:
            pass

    listener = _Listener()
    spark.streams.addListener(listener)
    return listener


@contextmanager
def timed_functions(module, names):
    """Time every call of ``module.<name>`` for each of ``names``, also
    through modules of the same package that imported it by name; yield
    name -> total seconds, and restore the originals on exit."""
    totals = {n: 0.0 for n in names}
    originals = {n: getattr(module, n) for n in names}

    def timed(name, fn):
        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            t = time.perf_counter()
            try:
                return fn(*args, **kwargs)
            finally:
                totals[name] += time.perf_counter() - t
        return wrapper

    package = module.__name__.split(".")[0] + "."
    patched = []
    for mod in list(sys.modules.values()):
        if mod is None or not getattr(mod, "__name__", "").startswith(package):
            continue
        for n, fn in originals.items():
            if vars(mod).get(n) is fn:
                setattr(mod, n, timed(n, fn))
                patched.append((mod, n))
    try:
        yield totals
    finally:
        for mod, n in patched:
            setattr(mod, n, originals[n])
