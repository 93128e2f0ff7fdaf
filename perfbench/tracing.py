"""Outside-in instrumentation: spans, Spark status-store counters, memory.

Nothing here reaches into the program: spans wrap calls into its public
functions, Spark counters come from the job group the harness sets around
each timed operation, and memory is read from ``/proc``. The same process
tree tells ``stop_session`` when every process a run started has ended.
"""

from __future__ import annotations

import json
import os
import signal
import statistics
import time
from contextlib import contextmanager


class Tracer:
    """In-memory span recorder; ``dump`` writes the spans out at the end.

    A span is (name, start, end, parent, run id). With ``enabled`` false,
    ``span`` only yields, so untraced runs pay for nothing but the call."""

    def __init__(self, run_id: str, enabled: bool):
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        idx = len(self.spans)
        rec = {"name": name, "start": time.perf_counter(), "end": None,
               "parent": self._stack[-1] if self._stack else None,
               "run_id": self.run_id}
        self.spans.append(rec)
        self._stack.append(idx)
        try:
            yield
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    def timed(self, name: str, fn) -> float:
        """Call ``fn`` inside a span; return its wall time in seconds."""
        t0 = time.perf_counter()
        with self.span(name):
            fn()
        return time.perf_counter() - t0

    def self_times(self) -> dict[str, float]:
        """Per span name: total duration minus the time its child spans
        cover (children of one span never overlap: calls are sequential)."""
        child = [0.0] * len(self.spans)
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        out: dict[str, float] = {}
        for s, c in zip(self.spans, child):
            out[s["name"]] = out.get(s["name"], 0.0) + (s["end"] - s["start"] - c)
        return out

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")


class SparkCounters:
    """Per-operation engine counters read from Spark's status store.

    Each operation runs under its own job group; afterwards the group's jobs
    and stages are read through ``statusTracker()`` and
    ``statusStore().lastStageAttempt``. Works with ``spark.ui.enabled=false``.
    """

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.store = self.sc._jsc.sc().statusStore()
        self.conv = self.sc._jvm.scala.jdk.javaapi.CollectionConverters
        self._n = 0

    @contextmanager
    def group(self, name: str):
        """Run the body under a fresh job group; yields a dict that holds
        the group's job ids once the body returns."""
        self._n += 1
        gid = f"perfbench-{self._n}-{name}"
        self.sc.setJobGroup(gid, name)
        out: dict = {}
        try:
            yield out
        finally:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
            out["jobs"] = list(self.sc.statusTracker().getJobIdsForGroup(gid))

    def stages(self, job_ids: list[int]) -> list:
        """Completed stage attempts of these jobs (skipped stages have none)."""
        tracker = self.sc.statusTracker()
        ids = sorted({s for j in job_ids for s in tracker.getJobInfo(j).stageIds})
        found = []
        for sid in ids:
            try:
                sd = self.store.lastStageAttempt(sid)
            except Exception:  # noqa: BLE001 - py4j NoSuchElementException: skipped stage
                continue
            if sd.status().toString() == "COMPLETE":
                found.append(sd)
        return found

    def task_skew(self, stage) -> float:
        """Slowest task over the median task of one stage attempt."""
        tasks = self.conv.asJava(
            self.store.taskList(stage.stageId(), stage.attemptId(), 100000)
        )
        durs = [t.duration().get() for t in tasks if t.duration().isDefined()]
        med = statistics.median(durs) if durs else 0
        return max(durs) / med if med else 0.0

    def summary(self, job_ids: list[int], wall_s: float, cpus: int) -> dict:
        stages = self.stages(job_ids)
        mb = 1024.0 * 1024.0
        run_s = sum(s.executorRunTime() for s in stages) / 1e3
        return {
            "spark.jobs": len(job_ids),
            "spark.stages": len(stages),
            "spark.tasks": sum(s.numTasks() for s in stages),
            "spark.shuffle_write_mb": sum(s.shuffleWriteBytes() for s in stages) / mb,
            "spark.shuffle_read_mb": sum(s.shuffleReadBytes() for s in stages) / mb,
            "spark.spill_mb": sum(
                s.memoryBytesSpilled() + s.diskBytesSpilled() for s in stages
            ) / mb,
            "spark.executor_run_s": run_s,
            "spark.executor_cpu_s": sum(s.executorCpuTime() for s in stages) / 1e9,
            "spark.gc_s": sum(s.jvmGcTime() for s in stages) / 1e3,
            "spark.busy_share": run_s / (wall_s * cpus) if wall_s > 0 else 0.0,
        }

    def last_stage(self, job_ids: list[int]):
        stages = self.stages(job_ids)
        return max(stages, key=lambda s: s.stageId()) if stages else None

    def persisted_rdds(self) -> int:
        return int(self.sc._jsc.getPersistentRDDs().size())


def _ppid(pid: int) -> int | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            # the command name may contain spaces; fields resume after ')'
            return int(f.read().rsplit(")", 1)[1].split()[1])
    except (OSError, IndexError, ValueError):
        return None


def process_tree(root: int) -> list[int]:
    """``root`` and every live descendant (Spark driver, JVM, Python workers)."""
    parents: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            pp = _ppid(int(name))
            if pp is not None:
                parents.setdefault(pp, []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(parents.get(pid, []))
    return out


def peak_rss_mb(root: int) -> dict[str, float]:
    """``VmHWM`` (peak resident set) in MB summed per process name over the
    process tree (the Spark driver and workers are ``python3``, the JVM ``java``)."""
    out: dict[str, float] = {}
    for pid in process_tree(root):
        try:
            with open(f"/proc/{pid}/status") as f:
                fields = dict(line.split(":", 1) for line in f if ":" in line)
        except OSError:
            continue
        if "VmHWM" in fields:
            name = fields["Name"].strip()
            out[name] = out.get(name, 0.0) + int(fields["VmHWM"].split()[0]) / 1024.0
    return out


def stop_session(spark) -> None:
    """Stop the session, then the JVM (it exits when its stdin closes), and
    wait until every process this run started has ended."""
    gateway = spark.sparkContext._gateway
    spark.stop()
    gateway.shutdown()
    gateway.proc.stdin.close()
    gateway.proc.wait(timeout=120)
    deadline = time.monotonic() + 60
    while len(process_tree(os.getpid())) > 1 and time.monotonic() < deadline:
        time.sleep(0.2)
    for pid in process_tree(os.getpid())[1:]:
        os.kill(pid, signal.SIGKILL)
