"""Spark session, machine record, cache accounting and tracing for the
benchmark: everything that talks to Spark itself rather than to the
engine's API."""

from __future__ import annotations

import os
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

MIB = float(1 << 20)


def start_spark(work_dir: str, cores: int):  # type: ignore[no-untyped-def]
    """A local[cores] session whose scratch files stay under ``work_dir``."""
    from pyspark.sql import SparkSession

    import tempfile

    # keep every scratch file (the JVM's, the launcher's, pyspark's) under
    # work_dir; -XX:-UsePerfData stops the JVMs writing /tmp/hsperfdata_*
    tmp = os.path.join(work_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tempfile.tempdir = tmp
    jopts = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    os.environ["SPARK_LAUNCHER_OPTS"] = jopts
    spark = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName("perfbench")
        .config("spark.sql.shuffle.partitions", str(cores))
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.driver.memory", "2g")
        .config("spark.local.dir", tmp)
        .config("spark.driver.extraJavaOptions", jopts)
        .config("spark.sql.warehouse.dir", os.path.join(work_dir, "warehouse"))
        .config("spark.sql.catalogImplementation", "in-memory")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:  # type: ignore[no-untyped-def]
    """Stop the session and wait for the JVM (and with it the Python
    workers it started) to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)


# -- machine record ---------------------------------------------------------


def _cpu_times() -> list[int]:
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


@dataclass
class Machine:
    """Host conditions around one run: steal share of CPU time between
    start and finish, load averages at both ends, and core counts."""

    cores: int
    spark_cores: int = 0
    load_before: tuple = ()
    load_after: tuple = ()
    steal_pct: float = 0.0
    _t0: list = field(default_factory=list)

    def begin(self) -> None:
        self.load_before = tuple(round(x, 2) for x in os.getloadavg())
        self._t0 = _cpu_times()

    def end(self) -> None:
        self.load_after = tuple(round(x, 2) for x in os.getloadavg())
        t1 = _cpu_times()
        delta = [b - a for a, b in zip(self._t0, t1)]
        # /proc/stat columns: user nice system idle iowait irq softirq steal
        self.steal_pct = round(100.0 * delta[7] / max(1, sum(delta[:8])), 2)

    def record(self) -> dict:
        return {
            "nproc": self.cores,
            "spark_cores": self.spark_cores,
            "load_before": self.load_before,
            "load_after": self.load_after,
            "steal_pct": self.steal_pct,
        }


# -- cache accounting -------------------------------------------------------


def persisted_ids(spark) -> set[int]:  # type: ignore[no-untyped-def]
    """Ids of every RDD with a storage level set (cached or pending)."""
    return {int(i) for i in spark.sparkContext._jsc.getPersistentRDDs().keySet()}


def cached_mb(spark, ids: "set[int] | None" = None) -> float:  # type: ignore[no-untyped-def]
    """MiB held in memory and on disk by cached RDDs (all, or ``ids``)."""
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return sum(
        r.memSize() + r.diskSize()
        for r in infos
        if ids is None or r.id() in ids
    ) / MIB


# -- tracing ----------------------------------------------------------------

COUNTERS = ("jobs", "stages", "tasks", "run_ms", "cpu_ms", "shuffle_mb", "spill_mb")


@dataclass
class Span:
    id: int
    name: str
    parent: "int | None"
    group: str
    start: float
    end: float = 0.0

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Tracer:
    """Spans around calls into the engine, kept in memory.

    Each span runs its Spark jobs under its own job group, so the jobs,
    stages and executor counters behind a span can be read back from the
    status store after it closes. A disabled tracer records nothing and
    sets no job group.
    """

    def __init__(self, spark, enabled: bool) -> None:  # type: ignore[no-untyped-def]
        self.sc = spark.sparkContext
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._t0 = time.perf_counter()

    @contextmanager
    def span(self, name: str):  # type: ignore[no-untyped-def]
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        sid = len(self.spans)
        s = Span(sid, name, parent.id if parent else None, f"perfbench-{sid}",
                 time.perf_counter() - self._t0)
        self.spans.append(s)
        self._stack.append(s)
        self.sc.setJobGroup(s.group, name)
        try:
            yield s
        finally:
            s.end = time.perf_counter() - self._t0
            self._stack.pop()
            if parent is not None:
                self.sc.setJobGroup(parent.group, parent.name)
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)

    def _subtree(self, root: Span) -> list[Span]:
        out, frontier = [root], {root.id}
        for s in self.spans[root.id + 1:]:
            if s.parent in frontier:
                out.append(s)
                frontier.add(s.id)
        return out

    def counters(self, root: Span) -> dict[str, float]:
        """Spark work done under ``root`` and its child spans."""
        from py4j.protocol import Py4JJavaError

        jsc = self.sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        tracker = self.sc.statusTracker()
        store = jsc.statusStore()
        c = dict.fromkeys(COUNTERS, 0.0)
        for s in self._subtree(root):
            for j in tracker.getJobIdsForGroup(s.group):
                c["jobs"] += 1
                info = tracker.getJobInfo(j)
                for sid in info.stageIds if info else ():
                    try:
                        sd = store.lastStageAttempt(sid)
                    except Py4JJavaError:
                        continue
                    if sd.status().toString() == "SKIPPED":
                        continue
                    c["stages"] += 1
                    c["tasks"] += sd.numTasks()
                    c["run_ms"] += sd.executorRunTime()
                    c["cpu_ms"] += sd.executorCpuTime() / 1e6
                    c["shuffle_mb"] += (sd.shuffleReadBytes() + sd.shuffleWriteBytes()) / MIB
                    c["spill_mb"] += sd.diskBytesSpilled() / MIB
        return c

    def dump(self, path: str, extra: dict) -> None:
        import json

        with open(path, "w") as f:
            json.dump(
                {
                    "spans": [
                        {"id": s.id, "name": s.name, "parent": s.parent,
                         "group": s.group, "start": round(s.start, 6),
                         "end": round(s.end, 6)}
                        for s in self.spans
                    ],
                    **extra,
                },
                f,
                indent=1,
            )
