"""Layer probes: spans recorded from the benchmark's own files around calls
into each layer, and readers of Spark's own accounting through py4j.

Nothing here patches the library.  Store and metadata calls are timed by a
`TableStore` subclass and a proxy around its `meta`; plugin calls by the
benchmark's plugin subclasses; executor work by job tag in the status
store; codegen by `CodegenMetrics`; Catalyst phases by
`QueryExecution.tracker`.
"""

from __future__ import annotations

import os
import time
from contextlib import contextmanager

from tabsdata_spark.store.table_store import TableStore


class Tracer:
    """Span recorder.  While `on` is false every call is a no-op, so an
    untraced op pays one attribute test per boundary.

    Spans use a clock that stops inside `paused()` blocks: probes that
    would distort the op (forcing a plan to read its phases, sizing a
    version directory) run paused and are excluded from every span."""

    def __init__(self):
        self.on = False
        self.spans: list[list] = []      # [name, start, end, parent index]
        self.counters: dict[str, float] = {}
        self._stack: list[int] = []
        self._excluded = 0.0

    def now(self) -> float:
        return time.perf_counter() - self._excluded

    def reset(self) -> None:
        self.spans, self.counters, self._stack = [], {}, []

    @contextmanager
    def span(self, name: str):
        if not self.on:
            yield
            return
        idx = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        self.spans.append([name, self.now(), None, parent])
        self._stack.append(idx)
        try:
            yield
        finally:
            self.spans[idx][2] = self.now()
            self._stack.pop()

    @contextmanager
    def paused(self):
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self._excluded += time.perf_counter() - t0

    def add(self, name: str, value: float = 1.0) -> None:
        if self.on:
            self.counters[name] = self.counters.get(name, 0.0) + value


class MetaProxy:
    """Times every public call into the metadata store as a
    `metadata.<method>` span."""

    def __init__(self, meta, tracer: Tracer):
        self._meta = meta
        self._tracer = tracer

    def __getattr__(self, name):
        attr = getattr(self._meta, name)
        if name.startswith("_") or not callable(attr):
            return attr
        tracer = self._tracer

        def timed(*args, **kwargs):
            with tracer.span("metadata." + name):
                return attr(*args, **kwargs)

        return timed


class TracedStore(TableStore):
    """A TableStore whose write / read / merge calls are spans; each write
    also records its Catalyst phases and the size of the version it left."""

    def __init__(self, root: str, tracer: Tracer, probe: "SparkProbe"):
        super().__init__(root)
        self.meta = MetaProxy(self.meta, tracer)
        self.tracer, self.probe = tracer, probe

    def write(self, frame, collection, table, *args, **kwargs):
        t = self.tracer
        if not t.on:
            return super().write(frame, collection, table, *args, **kwargs)
        with t.paused():
            df = frame if not hasattr(frame, "to_spark") else frame.to_spark()
            self.probe.record_phases(df._jdf.queryExecution(), t)
        with t.span("store.write"):
            vid = super().write(frame, collection, table, *args, **kwargs)
        with t.paused():
            path = self.version_path(collection, vid, table, vid)
            files = nbytes = 0
            for d, _, names in os.walk(path):
                for n in names:
                    if n.endswith(".parquet"):
                        files += 1
                        nbytes += os.path.getsize(os.path.join(d, n))
            t.add("store.versions")
            t.add("store.files", files)
            t.add("store.bytes_written", nbytes)
        return vid

    def read(self, spark, collection, table, versions="HEAD", as_of=None):
        name = "store.read_range" if ".." in versions else "store.read"
        with self.tracer.span(name):
            return super().read(spark, collection, table, versions, as_of)

    def merge(self, *args, **kwargs):
        with self.tracer.span("store.merge"):
            return super().merge(*args, **kwargs)


class SparkProbe:
    """Readers of the live session's own accounting."""

    PHASES = (("analysis", "catalyst.analysis_s"),
              ("optimization", "catalyst.optimization_s"),
              ("planning", "catalyst.planning_s"))

    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        self.jsc = self.sc._jsc.sc()
        self.jvm = self.sc._jvm
        self._cache_field = None

    # -- executor: status store by job tag --------------------------------
    def add_tag(self, tag: str) -> None:
        self.sc.addJobTag(tag)

    def remove_tag(self, tag: str) -> None:
        self.sc.removeJobTag(tag)

    def executor_totals(self, tag: str) -> dict[str, float]:
        self.jsc.listenerBus().waitUntilEmpty()
        store = self.jsc.statusStore()
        job_ids = list(self.jsc.statusTracker().getJobIdsForTag(tag))
        stage_ids: set[int] = set()
        for j in job_ids:
            ids = store.job(j).stageIds()
            stage_ids.update(ids.apply(i) for i in range(ids.size()))
        out = {"executor.jobs": float(len(job_ids)), "executor.stages": 0.0,
               "executor.tasks": 0.0, "executor.run_s": 0.0,
               "executor.cpu_s": 0.0, "executor.gc_s": 0.0,
               "shuffle.read_bytes": 0.0, "shuffle.write_bytes": 0.0,
               "spill.bytes": 0.0}
        for s in stage_ids:
            try:
                st = store.lastStageAttempt(s)
            except Exception:  # noqa: BLE001 - a stage AQE never submitted
                continue
            if str(st.status()) == "SKIPPED":
                continue
            out["executor.stages"] += 1
            out["executor.tasks"] += st.numTasks()
            out["executor.run_s"] += st.executorRunTime() / 1e3
            out["executor.cpu_s"] += st.executorCpuTime() / 1e9
            out["executor.gc_s"] += st.jvmGcTime() / 1e3
            out["shuffle.read_bytes"] += st.shuffleReadBytes()
            out["shuffle.write_bytes"] += st.shuffleWriteBytes()
            out["spill.bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
        out["executor.noncpu_s"] = out["executor.run_s"] - out["executor.cpu_s"]
        return out

    # -- codegen ------------------------------------------------------------
    def codegen(self) -> tuple[int, float]:
        """(compiles so far, mean compile seconds of the metric's reservoir).
        The count is exact; the histogram keeps a sampled reservoir, so
        count x mean is an estimate of compile time."""
        h = self.jvm.org.apache.spark.metrics.source.CodegenMetrics \
            .METRIC_COMPILATION_TIME()
        return h.getCount(), h.getSnapshot().getMean() / 1e3

    # -- catalyst -----------------------------------------------------------
    def record_phases(self, qe, tracer: Tracer) -> None:
        """Force the executed plan, then add its analysis / optimization /
        planning durations to the tracer's counters."""
        qe.executedPlan()
        phases = qe.tracker().phases()
        for phase, metric in self.PHASES:
            opt = phases.get(phase)
            if opt.isDefined():
                tracer.add(metric, opt.get().durationMs() / 1e3)

    # -- cache state --------------------------------------------------------
    def cache_state(self) -> tuple[int, int]:
        """(persistent RDDs, CacheManager entries) left in the session."""
        rdds = self.sc._jsc.getPersistentRDDs().size()
        return rdds, self._cached_plans()

    def _cached_plans(self) -> int:
        cm = self.spark._jsparkSession.sharedState().cacheManager()
        if self._cache_field is None:
            fields = {f.getName(): f for f in cm.getClass().getDeclaredFields()}
            name = next(n for n in fields if n.endswith("cachedData"))
            self._cache_field = fields[name]
            self._cache_field.setAccessible(True)
        return self._cache_field.get(cm).size()

    def clear_cache(self) -> None:
        self.spark.catalog.clearCache()
        for rdd in list(self.sc._jsc.getPersistentRDDs().values()):
            rdd.unpersist(True)

    # -- process ------------------------------------------------------------
    def jvm_pid(self) -> int:
        return self.jvm.ProcessHandle.current().pid()

    def live_mb(self) -> float:
        """After a full GC: the JVM's heap and non-heap in use plus the
        Python driver's resident set, in MiB."""
        self.jvm.System.gc()
        mx = self.jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
        used = (mx.getHeapMemoryUsage().getUsed()
                + mx.getNonHeapMemoryUsage().getUsed())
        with open("/proc/self/status") as f:
            rss_kb = next(int(line.split()[1]) for line in f
                          if line.startswith("VmRSS:"))
        return used / 2**20 + rss_kb / 1024.0


def cpu_steal_s() -> float:
    """CPU time the hypervisor took from this machine since boot, summed
    over CPUs (the `steal` column of /proc/stat)."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK")


def peak_rss_mb(pids: list[int]) -> float:
    """Sum of the peak resident set sizes (VmHWM) of `pids`, in MiB."""
    total = 0
    for pid in pids:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    total += int(line.split()[1])
    return total / 1024.0
