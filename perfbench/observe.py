"""Measurement taken from outside the engine.

- ``ProcTree``: CPU seconds and resident memory of this process and all of
  its descendants (the Spark JVM and its Python workers), read from
  ``/proc``.
- ``Tracer``: in-memory spans recorded around the benchmark's own calls
  into the engine; self time is a span's duration minus what its children
  cover.
- ``SparkCounters``: per-unit stage, job and SQL-metric totals read from
  Spark's status store, taken by id range (everything since the previous
  read) and booked to keys by submission time, and the JVM's JIT compile
  and GC times.
"""

from __future__ import annotations

import bisect
import os
import re
import threading
import time

CLK_TCK = os.sysconf("SC_CLK_TCK")
PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat(pid) -> list[bytes] | None:
    """Fields of /proc/<pid>/stat after the command name, or None if gone."""
    try:
        with open(f"/proc/{pid}/stat", "rb") as f:
            raw = f.read()
    except OSError:
        return None
    return raw[raw.rfind(b")") + 2 :].split()


def _proc_table() -> dict[int, tuple[int, float, int, int]]:
    """pid -> (ppid, cpu seconds incl. reaped children, rss bytes, start ticks)."""
    table = {}
    for name in os.listdir("/proc"):
        if name.isdigit() and (f := _stat(name)) is not None:
            cpu = (int(f[11]) + int(f[12]) + int(f[13]) + int(f[14])) / CLK_TCK
            table[int(name)] = (int(f[1]), cpu, int(f[21]) * PAGE, int(f[19]))
    return table


def seconds_since_process_start() -> float:
    """Time since this process started, on the boot-time clock the kernel
    stamps process starts with (immune to wall-clock steps)."""
    start_ticks = int(_stat("self")[19])
    return time.clock_gettime(time.CLOCK_BOOTTIME) - start_ticks / CLK_TCK


class ProcTree:
    """CPU and memory of the process tree rooted at this process.

    A background thread samples the tree's summed RSS; ``peak_bytes`` is
    the highest sample since the last ``reset_peak``. Every process ever
    seen in the tree is remembered by (pid, start time), so ``wait_gone``
    can check that all of them ended, including workers re-parented when
    the JVM exited, without mistaking a reused pid for one of them.
    """

    def __init__(self, interval: float = 0.2):
        self.root = os.getpid()
        self.seen: dict[int, int] = {}
        self.peak_bytes = 0
        self._interval = interval
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def sample(self) -> tuple[float, int]:
        """(cpu seconds, rss bytes) summed over the live tree."""
        table = _proc_table()
        children: dict[int, list[int]] = {}
        for pid, row in table.items():
            children.setdefault(row[0], []).append(pid)
        cpu = rss = 0
        todo = [self.root]
        with self._lock:
            while todo:
                pid = todo.pop()
                todo.extend(children.get(pid, ()))
                if pid in table:
                    cpu += table[pid][1]
                    rss += table[pid][2]
                    self.seen[pid] = table[pid][3]
        return cpu, rss

    def cpu_s(self) -> float:
        return self.sample()[0]

    def _loop(self) -> None:
        while not self._stop.wait(self._interval):
            rss = self.sample()[1]
            with self._lock:
                self.peak_bytes = max(self.peak_bytes, rss)

    def start(self) -> None:
        self._thread.start()

    def reset_peak(self) -> None:
        rss = self.sample()[1]
        with self._lock:
            self.peak_bytes = rss

    def stop(self) -> None:
        self._stop.set()
        if self._thread.is_alive():
            self._thread.join()

    def live_descendants(self) -> list[int]:
        with self._lock:
            seen = list(self.seen.items())
        return [
            pid
            for pid, start in seen
            if pid != self.root
            and (f := _stat(pid)) is not None
            and int(f[19]) == start
            and f[0] != b"Z"  # exited, waiting to be reaped
        ]

    def wait_gone(self, timeout: float = 30.0) -> list[int]:
        """Wait until every descendant ever seen has exited; kill stragglers."""
        deadline = time.monotonic() + timeout
        while self.live_descendants() and time.monotonic() < deadline:
            time.sleep(0.1)
        left = self.live_descendants()
        for pid in left:
            try:
                os.kill(pid, 9)
            except OSError:
                pass
        return left


class Tracer:
    """Spans kept in memory: (id, parent id, name, start, end)."""

    def __init__(self):
        self.spans: list[dict] = []
        self._stack: list[int] = []

    def span(self, name: str):
        tracer = self

        class _Span:
            def __enter__(self):
                self.rec = {
                    "id": len(tracer.spans),
                    "parent": tracer._stack[-1] if tracer._stack else None,
                    "name": name,
                    "start": time.perf_counter(),
                    "end": None,
                }
                tracer.spans.append(self.rec)
                tracer._stack.append(self.rec["id"])
                return self.rec

            def __exit__(self, *exc):
                self.rec["end"] = time.perf_counter()
                tracer._stack.pop()
                return False

        return _Span()

    def children(self, span_id: int) -> list[dict]:
        return [s for s in self.spans if s["parent"] == span_id]

    def self_time(self, span: dict) -> float:
        """Duration minus the union of the children's intervals."""
        covered = union_length(
            [(c["start"], c["end"]) for c in self.children(span["id"])],
            span["start"],
            span["end"],
        )
        return (span["end"] - span["start"]) - covered

    def problems(self) -> list[str]:
        """Nesting faults: an open span, a child outside its parent, or a
        negative self time."""
        out = []
        by_id = {s["id"]: s for s in self.spans}
        for s in self.spans:
            if s["end"] is None:
                out.append(f"span {s['name']} never closed")
                continue
            p = by_id.get(s["parent"])
            if p is not None and not (p["start"] <= s["start"] <= s["end"] <= p["end"]):
                out.append(f"span {s['name']} lies outside its parent {p['name']}")
            if self.self_time(s) < 0:
                out.append(f"span {s['name']} has negative self time")
        return out


def union_length(intervals, lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


# Worker start and initialisation are timed on other threads than the run
# and overlap it; only the run is summed, so the figure stays within the
# tasks' own run time.
_PY_WORKER_METRICS = ("time to run Python workers",)
_DURATION = re.compile(r"([\d,.]+)\s*(ms|s|m|h|min)\b")
_SCALE = {"ms": 1e-3, "s": 1.0, "m": 60.0, "min": 60.0, "h": 3600.0}


def parse_duration(text: str) -> float:
    """Seconds from a Spark SQL timing metric value ("871 ms", or the
    "total (min, med, max ...)\\n1.2 s (...)" form of multi-task metrics)."""
    body = text.split("\n", 1)[-1]
    m = _DURATION.search(body)
    return float(m.group(1).replace(",", "")) * _SCALE[m.group(2)] if m else 0.0


class SparkCounters:
    """Reads Spark's status store for the work done since the previous read.

    The benchmark runs one key at a time, so every stage, job and SQL
    execution newer than the previous read belongs to the unit just run,
    whichever thread started it (a streaming query's micro-batches run
    under the stream thread's own job group and description). Each item is
    booked to the key that was running when it was submitted. Ids grow
    monotonically: a read walks the store's items from the newest down and
    stops at the previous read's highest id, so its cost follows the new
    work, not the store's size.
    """

    _CLASSES = {
        "stage": "org.apache.spark.status.StageDataWrapper",
        "job": "org.apache.spark.status.JobDataWrapper",
        "exec": "org.apache.spark.sql.execution.ui.SQLExecutionUIData",
    }

    def __init__(self, spark):
        sc = spark.sparkContext
        jvm = sc._jvm
        # The SQL tab keeps its executions in the application's store.
        self._kv = sc._jsc.sc().statusStore().store()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._bus = sc._jsc.sc().listenerBus()
        self._classes = {k: jvm.java.lang.Class.forName(v) for k, v in self._CLASSES.items()}
        self._conv = jvm.scala.jdk.javaapi.CollectionConverters
        mgmt = jvm.java.lang.management.ManagementFactory
        self._jit = mgmt.getCompilationMXBean()
        self._gcs = list(mgmt.getGarbageCollectorMXBeans())
        self._last = {k: -1 for k in self._CLASSES}
        self.collect()  # skips what ran before the benchmark

    def jit_s(self) -> float:
        """Approximate seconds the JVM's JIT compiler threads have spent
        compiling since it started."""
        return self._jit.getTotalCompilationTime() / 1e3

    def gc_s(self) -> float:
        """Seconds the JVM's collectors have run since it started."""
        return sum(max(0, b.getCollectionTime()) for b in self._gcs) / 1e3

    @staticmethod
    def _secs(date_opt) -> float | None:
        return date_opt.get().getTime() / 1000.0 if date_opt.isDefined() else None

    def _new(self, kind: str, get_id) -> list:
        """Items of ``kind`` newer than the last read, oldest first."""
        it = self._kv.view(self._classes[kind]).reverse().closeableIterator()
        out = []
        try:
            while it.hasNext():
                item = it.next()
                if get_id(item) <= self._last[kind]:
                    break
                out.append(item)
        finally:
            it.close()
        if out:
            self._last[kind] = get_id(out[0])
        return out[::-1]

    def collect(self, key_starts=(), detail: bool = True) -> dict:
        """Stages, and with ``detail`` also jobs and Python-worker SQL time,
        run since the last read. ``key_starts`` is the unit's [(wall time,
        key)] in order; each item is booked to the key running at its
        submission. Stages never submitted (skipped, their output reused)
        are left out."""
        self._bus.waitUntilEmpty()  # the store is filled asynchronously
        starts = [t for t, _ in key_starts]
        keys = [k for _, k in key_starts]

        def key_at(t):
            i = bisect.bisect_right(starts, t) - 1 if t is not None else -1
            return keys[i] if i >= 0 else None

        stages = []
        for w in self._new("stage", lambda w: w.info().stageId()):
            s = w.info()
            start = self._secs(s.submissionTime())
            if start is None:
                continue
            stages.append(
                {
                    "key": key_at(start),
                    "tasks": s.numCompleteTasks(),
                    "run_s": s.executorRunTime() / 1e3,
                    "cpu_s": s.executorCpuTime() / 1e9,
                    "output_b": s.outputBytes(),
                    "shuffle_write_b": s.shuffleWriteBytes(),
                    "shuffle_read_b": s.shuffleReadBytes(),
                    "spill_b": s.memoryBytesSpilled() + s.diskBytesSpilled(),
                    "start": start,
                    "end": self._secs(s.completionTime()) if detail else None,
                }
            )
        if not detail:
            self._new("job", lambda w: w.info().jobId())
            self._new("exec", lambda e: e.executionId())
            return {"stages": stages}
        jobs = []
        for w in self._new("job", lambda w: w.info().jobId()):
            j = w.info()
            start = self._secs(j.submissionTime())
            jobs.append(
                {
                    "key": key_at(start),
                    "site": j.name(),
                    "start": start,
                    "end": self._secs(j.completionTime()),
                }
            )
        python_worker_s = 0.0
        for e in self._new("exec", lambda e: e.executionId()):
            # A plan node's metric is listed once per adaptive re-plan that
            # kept the node; each accumulator counts once.
            wanted = {
                m.accumulatorId()
                for m in self._conv.asJava(e.metrics())
                if m.name() in _PY_WORKER_METRICS
            }
            if wanted:
                values = self._conv.asJava(self._sql.executionMetrics(e.executionId()))
                python_worker_s += sum(
                    parse_duration(values.get(a)) for a in wanted if values.containsKey(a)
                )
        return {"stages": stages, "jobs": jobs, "python_worker_s": python_worker_s}
