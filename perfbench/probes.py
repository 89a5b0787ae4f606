"""Measurement helpers that read the program from outside: the host, the
resident memory of the Spark JVM and its Python workers, Spark's status
store, and Spark's streaming progress events."""

from __future__ import annotations

import os
import statistics
import threading
import time

from pyspark.sql.streaming.listener import StreamingQueryListener

MB = 1024 * 1024


def host_nproc() -> int:
    return len(os.sched_getaffinity(0))


def host_mem_gb() -> float:
    return os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") / 1024**3


def load1() -> float:
    return os.getloadavg()[0]


def host_block() -> dict:
    return {
        "nproc": host_nproc(),
        "mem_gb": round(host_mem_gb(), 2),
        "load1": load1(),
    }


def median(values) -> float:
    values = list(values)
    return float(statistics.median(values)) if values else 0.0


# ------------------------------------------------------------------ memory
def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue  # exited while listing
        ppid = int(stat[stat.rindex(")") + 2 :].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def process_tree(root: int) -> list[int]:
    kids = _children()
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, []))
    return out


def _exe(pid: int) -> str:
    try:
        return os.readlink(f"/proc/{pid}/exe")
    except OSError:
        return ""


def _rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1]) * os.sysconf("SC_PAGE_SIZE")
    except OSError:
        return 0


class RssSampler:
    """Peak of the summed resident memory of a process and its descendants
    (the Spark JVM and the Python workers it forks), sampled on a thread."""

    def __init__(self, root_pid: int, interval_s: float = 0.5):
        self.root_pid = root_pid
        self.interval_s = interval_s
        self.peak = 0
        self.at_peak: list[int] = []  # MB per process at the peak, JVM first
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self):
        while not self._stop.is_set():
            tree = process_tree(self.root_pid)
            # a child still running the JVM's executable is a fork that has
            # not exec'd yet: its pages are the JVM's, so counting it would
            # count the JVM twice
            jvm = _exe(self.root_pid)
            tree = tree[:1] + [p for p in tree[1:] if _exe(p) != jvm]
            rss = [_rss_bytes(p) for p in tree]
            if sum(rss) >= self.peak:
                self.peak = sum(rss)
                self.at_peak = [r // MB for r in rss]
            self._stop.wait(self.interval_s)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()

    @property
    def peak_mb(self) -> float:
        return self.peak / MB


# ------------------------------------------------------------ status store
class StageWindow:
    """Totals over the Spark stages that complete inside a ``with`` block,
    read from the status store that backs Spark's UI and REST API."""

    def __init__(self, spark):
        self._sc = spark.sparkContext
        self.totals: dict[str, float] = {}

    def _stages(self):
        jvm = self._sc._jvm
        store = self._sc._jsc.sc().statusStore()
        empty = jvm.java.util.ArrayList()
        seq = store.stageList(
            empty, False, False, self._sc._gateway.new_array(jvm.double, 0), empty
        )
        return store, [seq.apply(i) for i in range(seq.size())]

    def __enter__(self):
        _, stages = self._stages()
        self._first = 1 + max((s.stageId() for s in stages), default=-1)
        return self

    def __exit__(self, *exc):
        store, stages = self._stages()
        done = [
            s
            for s in stages
            if s.stageId() >= self._first and s.status().toString() == "COMPLETE"
        ]
        quantile = self._sc._gateway.new_array(self._sc._jvm.double, 1)
        quantile[0] = 1.0
        max_task_ms = 0.0
        for s in done:
            summary = store.taskSummary(s.stageId(), s.attemptId(), quantile)
            if summary.isDefined():
                max_task_ms = max(max_task_ms, summary.get().duration().apply(0))
        self.totals = {
            "shuffle_read_mb": sum(s.shuffleReadBytes() for s in done) / MB,
            "shuffle_write_mb": sum(s.shuffleWriteBytes() for s in done) / MB,
            "spill_mb": sum(s.diskBytesSpilled() for s in done) / MB,
            "tasks": sum(s.numCompleteTasks() for s in done),
            "executor_run_s": sum(s.executorRunTime() for s in done) / 1000,
            "max_task_s": max_task_ms / 1000,
        }


# -------------------------------------------------------- streaming events
class ProgressListener(StreamingQueryListener):
    """Keeps every progress event of the streaming queries as a dict."""

    def __init__(self):
        self.events: list[dict] = []
        self._lock = threading.Lock()

    def onQueryStarted(self, event):
        pass

    def onQueryProgress(self, event):
        p = event.progress
        row = {
            "batch_id": p.batchId,
            "input_rows": p.numInputRows,
            "duration_ms": dict(p.durationMs or {}),
            "state": [
                {
                    "rows": s.numRowsTotal,
                    "mem_bytes": s.memoryUsedBytes,
                    "update_ms": s.allUpdatesTimeMs,
                    "commit_ms": s.commitTimeMs,
                    "dropped": s.numRowsDroppedByWatermark,
                }
                for s in p.stateOperators
            ],
            "observed": {
                k: v.asDict() for k, v in (p.observedMetrics or {}).items()
            },
        }
        with self._lock:
            self.events.append(row)

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        pass

    def wait_for(self, last_batch_id: int, timeout_s: float = 10.0) -> list[dict]:
        """Progress events arrive asynchronously; wait for the last batch."""
        deadline = time.time() + timeout_s
        while time.time() < deadline:
            with self._lock:
                if any(e["batch_id"] >= last_batch_id for e in self.events):
                    break
            time.sleep(0.05)
        with self._lock:
            return sorted(self.events, key=lambda e: e["batch_id"])
