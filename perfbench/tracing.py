"""Spans around the benchmark's calls into each ``faiss_spark`` layer.

A span has a name (``<module>.<public call>``), start and end, a parent
and the run id. With tracing off a span only measures its wall time. With
tracing on it also

- tags the Spark jobs it starts with a job group named after it,
- counts persisted RDDs plus cached relations before and after it,
- after the pass, reads per-stage task metrics of its jobs from the status
  store, the Python SQL metrics of its SQL executions, and the analysis,
  optimization and planning phases of its queries.

Spans stay in memory; ``Tracer.spans`` is written out when the run ends.
"""

from __future__ import annotations

import re
import time
from contextlib import contextmanager

# counters of every span that runs Spark jobs, with their units
SPARK_COUNTERS = {
    "wall_s": "s", "plan_s": "s", "busy_frac": "ratio", "python_s": "s",
    "shuffle_bytes": "bytes", "spill_bytes": "bytes", "gc_s": "s",
    "tasks_failed": "count",
}

# SQL metric of every Python-running plan node (MapInArrow, ArrowEvalPython,
# FlatMap(Co)GroupsInArrow, ...) that holds the time spent in Python workers
_PYTHON_RUN_METRIC = "time to run Python workers"
_DURATION = re.compile(r"([0-9][0-9,]*(?:\.[0-9]+)?)\s*(ms|s|m|h)\b")
_UNIT_S = {"ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}


def parse_duration_s(text: str) -> float:
    """Seconds in a formatted SQL timing metric, which reads either
    ``"1.2 s"`` or ``"total (min, med, max ...)\\n9.1 s (2.3 s, ...)"``."""
    line = text.strip().splitlines()[-1]
    m = _DURATION.search(line)
    if m is None:
        raise ValueError(f"unparsed SQL timing metric: {text!r}")
    return float(m.group(1).replace(",", "")) * _UNIT_S[m.group(2)]


def storage_count(spark) -> int:
    """Persisted RDDs plus cached relations in the session."""
    cached = spark._jsparkSession.sharedState().cacheManager().numCachedEntries()
    return int(spark.sparkContext._jsc.getPersistentRDDs().size()) + int(cached)


class _PhaseListener:
    """QueryExecutionListener (through the py4j callback server) that keeps
    each finished query's analysis/optimization/planning phases."""

    def __init__(self):
        self.records: list[tuple[float, float]] = []  # (end epoch s, plan s)

    def onSuccess(self, func_name, qe, duration_ns):
        self._record(qe)

    def onFailure(self, func_name, qe, exception):
        self._record(qe)

    def _record(self, qe):
        it = qe.tracker().phases().iterator()
        total_ms, end_ms = 0, 0
        while it.hasNext():
            ph = it.next()._2()
            total_ms += ph.durationMs()
            end_ms = max(end_ms, ph.endTimeMs())
        self.records.append((end_ms / 1000.0, total_ms / 1000.0))

    class Java:
        implements = ["org.apache.spark.sql.util.QueryExecutionListener"]


class Tracer:
    def __init__(self, run_id: str, enabled: bool):
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._spark = None
        self._listener = None
        self._last_execution = -1

    def attach(self, spark) -> None:
        """Bind to the session the traced passes run in."""
        self._spark = spark
        from pyspark.java_gateway import ensure_callback_server_started

        ensure_callback_server_started(spark.sparkContext._gateway)
        self._listener = _PhaseListener()
        spark._jsparkSession.listenerManager().register(self._listener)
        self._last_execution = self._max_execution_id()

    def detach(self) -> None:
        if self._listener is not None and self._spark is not None:
            self._spark._jsparkSession.listenerManager().unregister(self._listener)
        self._listener = None

    @contextmanager
    def span(self, name: str):
        rec = {"name": name}
        if not self.enabled:
            t0 = time.perf_counter()
            try:
                yield rec
            finally:
                rec["wall_s"] = time.perf_counter() - t0
            return
        sc = self._spark.sparkContext if self._spark is not None else None
        parent = self._stack[-1] if self._stack else None
        rec.update(run_id=self.run_id, span_id=len(self.spans),
                   parent=parent["span_id"] if parent else None)
        self.spans.append(rec)
        self._stack.append(rec)
        group = f"{name}#{rec['span_id']}"
        if sc is not None:
            rec["job_group"] = group
            sc.setJobGroup(group, name)
            rec["storage_before"] = storage_count(self._spark)
        rec["start"] = time.time()
        t0 = time.perf_counter()
        try:
            yield rec
        finally:
            rec["wall_s"] = time.perf_counter() - t0
            rec["end"] = time.time()
            self._stack.pop()
            if sc is not None:
                rec["storage_delta"] = storage_count(self._spark) - rec.pop(
                    "storage_before")
                if parent is not None and "job_group" in parent:
                    sc.setJobGroup(parent["job_group"], parent["name"])
                else:
                    sc.setLocalProperty("spark.jobGroup.id", None)
                    sc.setLocalProperty("spark.job.description", None)

    # ------------------------------------------------------- collection --
    def _max_execution_id(self) -> int:
        store = self._spark._jsparkSession.sharedState().statusStore()
        n = store.executionsCount()
        if n == 0:
            return -1
        return int(store.executionsList(n - 1, 1).head().executionId())

    def collect(self, spans: list[dict], cores: int) -> None:
        """Fill the Spark counters of finished ``spans`` (one pass)."""
        spark = self._spark
        sc = spark.sparkContext
        jsc = sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        tracker = sc.statusTracker()
        spark_spans = [s for s in spans if "job_group" in s]
        job_span: dict[int, dict] = {}
        stage_span: dict[int, dict] = {}
        for s in spark_spans:
            for c in SPARK_COUNTERS:
                if c != "wall_s":
                    s[c] = 0.0
            s["run_s"] = 0.0
            for jid in tracker.getJobIdsForGroup(s["job_group"]):
                job_span[jid] = s
                info = tracker.getJobInfo(jid)
                for sid in (info.stageIds if info else ()):
                    stage_span.setdefault(sid, s)
        self._stage_metrics(stage_span)
        self._python_metrics(job_span)
        # plan phases: a query belongs to the innermost span open when its
        # planning ended
        for end, plan_s in self._listener.records:
            owner = None
            for s in spark_spans:
                if s["start"] <= end <= s["end"] and (
                        owner is None or s["start"] >= owner["start"]):
                    owner = s
            if owner is not None:
                owner["plan_s"] += plan_s
        self._listener.records.clear()
        for s in spark_spans:
            s["busy_frac"] = s.pop("run_s") / max(s["wall_s"] * cores, 1e-9)

    def _stage_metrics(self, stage_span: dict[int, dict]) -> None:
        if not stage_span:
            return
        gw = self._spark.sparkContext._gateway
        jvm = gw.jvm
        stages = self._spark.sparkContext._jsc.sc().statusStore().stageList(
            jvm.java.util.ArrayList(), False, False,
            gw.new_array(jvm.double, 0), jvm.java.util.ArrayList())
        lowest = min(stage_span)
        it = stages.iterator()
        while it.hasNext():  # newest stage first
            st = it.next()
            sid = st.stageId()
            s = stage_span.get(sid)
            if s is None:
                if sid < lowest:
                    break
                continue
            s["run_s"] += st.executorRunTime() / 1000.0
            s["gc_s"] += st.jvmGcTime() / 1000.0
            s["shuffle_bytes"] += float(st.shuffleWriteBytes())
            s["spill_bytes"] += float(st.diskBytesSpilled())
            s["tasks_failed"] += float(st.numFailedTasks())

    def _python_metrics(self, job_span: dict[int, dict]) -> None:
        store = self._spark._jsparkSession.sharedState().statusStore()
        newest = self._max_execution_id()
        n = store.executionsCount()
        first = self._last_execution
        self._last_execution = newest
        if not job_span or newest <= first:
            return
        count = min(n, newest - first)
        execs = store.executionsList(n - count, count)
        it = execs.iterator()
        while it.hasNext():
            ex = it.next()
            eid = ex.executionId()
            if eid <= first:
                continue
            owner = None
            jobs = ex.jobs().keys().iterator()
            while jobs.hasNext() and owner is None:
                owner = job_span.get(jobs.next())
            if owner is None:
                continue
            values = store.executionMetrics(eid)
            nodes = store.planGraph(eid).allNodes()
            nit = nodes.iterator()
            while nit.hasNext():
                mit = nit.next().metrics().iterator()
                while mit.hasNext():
                    m = mit.next()
                    if m.name() != _PYTHON_RUN_METRIC:
                        continue
                    v = values.get(m.accumulatorId())
                    if v.isDefined():
                        owner["python_s"] += parse_duration_s(v.get())
