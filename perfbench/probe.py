"""Measurement from outside the engine: spans, job groups, Spark's status
store, Catalyst's planning tracker, executed-plan SQL metrics, persisted-RDD
pins, JVM resident memory and scratch-directory use.

Nothing here changes what a query computes; everything reads state that
Spark already keeps. The benchmark's own code calls these around its calls
into the engine's public functions.
"""

from __future__ import annotations

import contextlib
import itertools
import os
import threading
import time
from collections.abc import Iterator

PYTHON_METRICS = {
    "pythonDataSent": "arrow.python_bytes_sent",
    "pythonDataReceived": "arrow.python_bytes_received",
    "pythonNumRowsReceived": "arrow.python_rows",
}
JOIN_NODES = ("SortMergeJoin", "ShuffledHashJoin", "BroadcastHashJoin")
SCRATCH_SAMPLE_S = 0.05  # interval between scratch-directory samples


class Tracer:
    """In-memory spans (name, start, end, parent, run id), written out once
    the run ends. Times are seconds from the tracer's creation."""

    def __init__(self, run_id: str):
        self.run_id = run_id
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._t0 = time.perf_counter()

    @contextlib.contextmanager
    def span(self, name: str, **attrs) -> Iterator[dict]:
        rec = {
            "name": name, "run_id": self.run_id,
            "parent": self._stack[-1] if self._stack else None,
            "id": len(self.spans), "start": time.perf_counter() - self._t0,
            "end": None, **attrs,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter() - self._t0


class SparkProbe:
    """Read-only views of one SparkSession's runtime state."""

    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        self._jsc = self.sc._jsc.sc()
        self._ids = itertools.count()
        self.groups: list[str] = []  # job groups opened; the caller clears it

    # --- jobs ------------------------------------------------------------

    @contextlib.contextmanager
    def job_group(self, label: str) -> Iterator[str]:
        """Tag every job launched inside with a fresh group id; the previous
        group is restored afterwards, so groups nest."""
        gid = f"{label}#{next(self._ids)}"
        prev = self.sc.getLocalProperty("spark.jobGroup.id")
        prev_desc = self.sc.getLocalProperty("spark.job.description")
        self.groups.append(gid)
        self.sc.setJobGroup(gid, label)
        try:
            yield gid
        finally:
            if prev is None:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)
            else:
                self.sc.setJobGroup(prev, prev_desc or "")

    def jobs(self, gid: str) -> list[int]:
        return list(self.sc.statusTracker().getJobIdsForGroup(gid))

    def stage_totals(self, groups: list[str]) -> dict[str, float]:
        """Execution totals of every stage that ran for the given groups,
        from the status store (each stage counted once)."""
        self._jsc.listenerBus().waitUntilEmpty()
        store = self._jsc.statusStore()
        job_ids = {j for g in groups for j in self.jobs(g)}
        stages: set[int] = set()
        for j in job_ids:
            ids = store.job(j).stageIds()
            stages.update(ids.apply(i) for i in range(ids.size()))
        out = {
            "exec.jobs": len(job_ids), "exec.tasks": 0, "exec.input_bytes": 0,
            "exec.shuffle_write_bytes": 0, "exec.spill_bytes": 0,
            "exec.peak_memory_bytes": 0,
        }
        for s in stages:
            try:
                sd = store.lastStageAttempt(s)
            except Exception:  # a stage that never ran has no attempt record
                continue
            out["exec.tasks"] += sd.numCompleteTasks()
            out["exec.input_bytes"] += sd.inputBytes()
            out["exec.shuffle_write_bytes"] += sd.shuffleWriteBytes()
            out["exec.spill_bytes"] += sd.diskBytesSpilled()
            out["exec.peak_memory_bytes"] = max(
                out["exec.peak_memory_bytes"], sd.peakExecutionMemory()
            )
        return out

    # --- pins and session state ---------------------------------------------

    def pins(self) -> int:
        return self._jsc.getPersistentRDDs().size()

    def reset_state(self) -> None:
        """Drop every cached table and persisted/checkpointed RDD so the next
        timed operation starts from nothing a previous one left."""
        self.spark.catalog.clearCache()
        rdds = self._jsc.getPersistentRDDs().values().iterator()
        while rdds.hasNext():
            rdds.next().unpersist(True)

    # --- Catalyst and executed-plan metrics ----------------------------------

    @staticmethod
    def phases_ms(df) -> dict[str, int]:
        ph = df._jdf.queryExecution().tracker().phases()
        out = {}
        for phase in ("analysis", "optimization", "planning"):
            opt = ph.get(phase)
            out[f"catalyst.{phase}_ms"] = opt.get().durationMs() if opt.isDefined() else 0
        return out

    @staticmethod
    def plan_metrics(df) -> dict[str, int]:
        """Arrow-boundary totals and candidate-join output rows, read from
        the executed (final adaptive) plan of an already-run DataFrame."""
        out = dict.fromkeys(PYTHON_METRICS.values(), 0)
        out["join_output_rows"] = 0
        stack = [df._jdf.queryExecution().executedPlan()]
        while stack:
            node = stack.pop()
            cls = node.getClass().getSimpleName()
            if cls == "AdaptiveSparkPlanExec":
                stack.append(node.executedPlan())
                continue
            if cls.endswith("QueryStageExec"):
                stack.append(node.plan())
                continue
            name = node.nodeName()
            metrics = node.metrics()
            if any(k in name for k in ("Python", "Pandas", "Arrow")):
                for key, label in PYTHON_METRICS.items():
                    m = metrics.get(key)
                    if m.isDefined():
                        out[label] += m.get().value()
            elif name.startswith(JOIN_NODES):
                m = metrics.get("numOutputRows")
                if m.isDefined():
                    out["join_output_rows"] += m.get().value()
            kids = node.children()
            stack.extend(kids.apply(i) for i in range(kids.size()))
        return out


def jvm_pid(spark) -> int:
    return spark.sparkContext._gateway.proc.pid


class RssPeak:
    """High-water resident set of one process over a window: the kernel's
    VmHWM, reset at the window start through /proc/<pid>/clear_refs."""

    def __init__(self, pid: int):
        self.pid = pid

    def start(self) -> None:
        with open(f"/proc/{self.pid}/clear_refs", "w") as f:
            f.write("5")

    def peak_mb(self) -> float:
        with open(f"/proc/{self.pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
        raise RuntimeError(f"no VmHWM for pid {self.pid}")


def dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for name in files:
            try:
                total += os.path.getsize(os.path.join(root, name))
            except OSError:  # shuffle/temp file removed while walking
                pass
    return total


class ScratchSampler:
    """Samples the bytes under Spark's local directories (shuffle files,
    spills, DISK_ONLY blocks) on a background thread; ``peak`` is the
    high-water above the size found at start."""

    def __init__(self, path: str):
        self.path = path
        self.peak = 0
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def __enter__(self) -> ScratchSampler:
        base = dir_bytes(self.path)

        def loop():
            while not self._stop.is_set():
                self.peak = max(self.peak, dir_bytes(self.path) - base)
                self._stop.wait(SCRATCH_SAMPLE_S)

        self._thread = threading.Thread(target=loop, daemon=True)
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
