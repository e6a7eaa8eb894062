"""Per-layer tracing for the benchmark, built only from the benchmark's
own files: timing wrappers around the engine's public entry points, and
reads of Spark's status store, Catalyst tracker and JMX beans.

Nothing here is installed in an untraced run.  Spans stay in memory and
are summarised when the run ends.
"""

from __future__ import annotations

import functools
import time
from collections import defaultdict


ENGINE_KEYS = (
    "engine.jobs", "engine.stages", "engine.tasks", "engine.executor_run_ms",
    "engine.executor_cpu_ms", "engine.shuffle_write_bytes",
    "engine.spill_bytes", "sources.input_bytes",
)


def _seq(scala_seq) -> list:
    return [scala_seq.apply(i) for i in range(scala_seq.size())]


class Tracer:
    """Records layer spans and per-statement Spark counters.

    ``begin(tag)`` / ``end()`` bracket one statement.  Jobs the statement
    starts carry the Spark job tag ``tag`` (a ``SparkContext`` job tag, not
    a job description), so they are found in the status store by tag.
    """

    def __init__(self):
        self.spans = defaultdict(list)  # layer -> [(start, end)] epoch ms
        self.counts = defaultdict(float)  # counter -> value in statement
        self.records = []  # one dict per finished statement
        self.stream_batches = []  # (input rows, batch ms)
        self.spark = None
        self._seen = set()  # DataFrames whose phases this statement counted
        self._computed = set()  # RDD-id sets of stages earlier statements ran

    # -- wrappers -------------------------------------------------------
    def _wrap(self, owner, attr, layer=None, after=None, static=False):
        """Replace ``owner.attr`` for the rest of the process with a version
        that records a ``layer`` span and then calls ``after``."""
        orig = owner.__dict__[attr]
        fn = orig.__func__ if static else orig
        tracer = self

        @functools.wraps(fn)
        def timed(*args, **kwargs):
            t0 = time.time() * 1000
            out = fn(*args, **kwargs)
            if layer is not None:
                tracer.spans[layer].append((t0, time.time() * 1000))
            if after is not None:
                after(out, *args)
            return out

        setattr(owner, attr, classmethod(timed) if static else timed)

    def install(self) -> None:
        from pyspark.sql.classic.dataframe import DataFrame

        import multisql_spark.dialect as dialect
        import multisql_spark.sources as sources
        from multisql_spark.payload import Payload

        self._wrap(dialect, "rewrite", "dialect.rewrite")
        self._wrap(sources, "attach_database", "sources.attach")
        self._wrap(Payload, "select", "payload.select",
                   after=self._after_select, static=True)
        # Catalyst phases of every DataFrame the engine executes, read from
        # its QueryExecution tracker after the action returns
        for action in ("collect", "localCheckpoint", "count"):
            self._wrap(DataFrame, action, after=self._after_action)

    def _after_select(self, payload, *args):
        self.counts["payload.rows"] += len(payload.rows)

    def _after_action(self, out, df, *args):
        if id(df) in self._seen:
            return
        self._seen.add(id(df))
        phases = df._jdf.queryExecution().tracker().phases()
        for ph in ("analysis", "optimization", "planning"):
            if phases.contains(ph):
                self.counts[f"catalyst.{ph}_ms"] += (
                    phases.apply(ph).durationMs())

    # -- statements -----------------------------------------------------
    def begin(self, spark, tag: str) -> None:
        self.spark = spark
        self.spans.clear()
        self.counts.clear()
        self._seen.clear()
        self._base, self._tags, self._marks = tag, [], []
        self._n_batches = len(self.stream_batches)
        self._set_tag(tag)

    def _set_tag(self, tag: str) -> None:
        sc = self.spark.sparkContext
        if self._tags:
            sc.removeJobTag(self._tags[-1])
        self._tags.append(tag)
        sc.addJobTag(tag)

    def phase(self, name: str) -> None:
        """Start a named phase of the statement; its jobs get their own
        tag so they can be counted apart (e.g. jobs run inside a build)."""
        # progress of the previous phase's stream reaches the listener
        # asynchronously; drain it so it is attributed to that phase
        self.spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
        self._marks.append((name, time.time() * 1000,
                            len(self.stream_batches)))
        self._set_tag(f"{self._base}-{name}")

    def end(self, wall_ms: float, **fields) -> dict:
        end = time.time() * 1000
        self.spark.sparkContext.removeJobTag(self._tags[-1])
        rec = dict(fields, wall_ms=wall_ms)
        # Phases named noop* run on a separate build and are not part of
        # the statement: their jobs, time and stream batches are left out.
        # engine_counts drains the listener bus, so it runs before this
        # statement's streaming progress is read.
        rec.update(self.engine_counts(
            [t for t in self._tags if "-noop" not in t]))
        rec["phase_ms"] = {
            name: (self._marks[i + 1][1] if i + 1 < len(self._marks) else end)
            - t for i, (name, t, _) in enumerate(self._marks)}
        rec["stream"] = self.stream_batches[self._n_batches:]
        if self._marks:
            bounds = [m[2] for m in self._marks] + [len(self.stream_batches)]
            rec["stream"] = [
                b for i, (name, _, _) in enumerate(self._marks)
                if not name.startswith("noop")
                for b in self.stream_batches[bounds[i]:bounds[i + 1]]]
            rec["wall_ms"] -= sum(ms for name, ms in rec["phase_ms"].items()
                                  if name.startswith("noop"))
        rec["spans"] = {k: list(v) for k, v in self.spans.items()}
        rec.update(self.counts)
        self.records.append(rec)
        return rec

    def engine_counts(self, tags: list[str]) -> dict:
        """Job, stage and task counters of the jobs carrying ``tags``.

        ``engine.skipped_stages`` counts stages the scheduler skipped
        because an earlier statement had computed them (matched by RDD
        ids): a timed call that ran an already-executed plan again.
        Adaptive execution also skips its own map stages in a statement's
        final job; those were computed by the same statement and do not
        count."""
        jsc = self.spark.sparkContext._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        tracker, store = jsc.statusTracker(), jsc.statusStore()
        out = dict.fromkeys(ENGINE_KEYS, 0.0)
        run_rdds, skipped, intervals = set(), [], []
        for tag in tags:
            jobs = sorted(tracker.getJobIdsForTag(tag))
            out[f"jobs:{tag.rpartition('-')[2]}"] = len(jobs)
            for j in jobs:
                jd = store.job(j)
                out["engine.jobs"] += 1
                if jd.submissionTime().isDefined() and \
                        jd.completionTime().isDefined():
                    intervals.append((
                        jd.submissionTime().get().getTime(),
                        jd.completionTime().get().getTime()))
                for sid in _seq(jd.stageIds()):
                    sd = store.lastStageAttempt(sid)
                    rdds = frozenset(_seq(sd.rddIds()))
                    if str(sd.status()) == "SKIPPED":
                        skipped.append(rdds)
                        continue
                    run_rdds.add(rdds)
                    out["engine.stages"] += 1
                    out["engine.tasks"] += sd.numTasks()
                    out["engine.executor_run_ms"] += sd.executorRunTime()
                    out["engine.executor_cpu_ms"] += (
                        sd.executorCpuTime() / 1e6)
                    out["engine.shuffle_write_bytes"] += sd.shuffleWriteBytes()
                    out["engine.spill_bytes"] += (
                        sd.memoryBytesSpilled() + sd.diskBytesSpilled())
                    out["sources.input_bytes"] += sd.inputBytes()
        out["engine.skipped_stages"] = sum(
            1 for r in skipped if r not in run_rdds and r in self._computed)
        self._computed |= run_rdds
        out["intervals"] = intervals
        return out


class StreamProgress:
    """Collects micro-batch progress through a StreamingQueryListener.

    The Java interface is implemented directly: PySpark's own wrapper
    fails to decode the query-started event of a query that carries job
    tags, and every traced statement carries one."""

    def __init__(self, tracer: Tracer):
        self.tracer = tracer

    def register(self, spark) -> None:
        from pyspark.java_gateway import ensure_callback_server_started

        gw = spark.sparkContext._gateway
        ensure_callback_server_started(gw)
        spark.streams._jsqm.addListener(
            gw.jvm.org.apache.spark.sql.streaming
            .PythonStreamingQueryListenerWrapper(self))

    def onQueryProgress(self, jevent) -> None:
        from pyspark.sql.streaming.listener import QueryProgressEvent

        p = QueryProgressEvent.fromJObject(jevent).progress
        self.tracer.stream_batches.append((p.numInputRows, p.batchDuration))

    def onQueryStarted(self, jevent) -> None:
        pass

    def onQueryIdle(self, jevent) -> None:
        pass

    def onQueryTerminated(self, jevent) -> None:
        pass

    class Java:
        implements = [
            "org.apache.spark.sql.streaming.PythonStreamingQueryListener"]


def jvm_times(spark) -> tuple[float, float]:
    """(total GC ms, total JIT compile ms) of the Spark JVM so far."""
    mf = spark._jvm.java.lang.management.ManagementFactory
    gc = sum(b.getCollectionTime() for b in mf.getGarbageCollectorMXBeans())
    return float(gc), float(mf.getCompilationMXBean().getTotalCompilationTime())


def code_cache_mb(spark) -> float:
    """Compiled code held in the Spark JVM's code cache, in MB."""
    mf = spark._jvm.java.lang.management.ManagementFactory
    return sum(p.getUsage().getUsed() for p in mf.getMemoryPoolMXBeans()
               if "Code" in p.getName()) / 2**20


def union_ms(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of (start, end) intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total
