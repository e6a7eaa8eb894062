"""Run one benchmark workload against the engine and print its metrics.

    python3 perfbench/run.py --workload federated_sql --seed 1 \\
        --seconds 15 --trace 0

One client drives the engine in a closed loop: one statement is in flight
at a time, and the next starts when the previous one returns.  The last
line of standard output is one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics`` (the end-to-end metrics with
``--trace 0``, the per-layer metrics with ``--trace 1``).  See README.md.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import re
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CORES = 4  # local[4]: one task slot per core of a 4-core host
SETUPS = 3  # set-ups per run; setup_s is their median
DATA_DIR = os.path.join(HERE, ".data")
HEAP = "2g"  # fixed JVM heap (-Xms = -Xmx)
# C1-only JIT: a fresh JVM reaches its steady speed within seconds instead
# of improving for 20-30 passes under C2 (see README.md, noise cause 1).
# C1-only shrinks the default code cache to 48 MB, which fresh plans fill
# within three operator_pipeline passes; the JIT then stops for good.
JIT_OPTS = "-XX:TieredStopAtLevel=1 -XX:ReservedCodeCacheSize=512m"


def spark_conf(scratch: str) -> dict[str, str]:
    return {
        "spark.master": f"local[{CORES}]",
        "spark.app.name": "perfbench",
        "spark.driver.memory": HEAP,
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={scratch}/tmp -Xms{HEAP} " + JIT_OPTS,
        "spark.local.dir": f"{scratch}/spark",
        "spark.sql.warehouse.dir": f"{scratch}/warehouse",
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.shuffle.partitions": "8",
    }


def start_spark(scratch: str):
    from pyspark.sql import SparkSession

    from multisql_spark.tables import tune_session

    builder = SparkSession.builder
    for key, value in spark_conf(scratch).items():
        builder = builder.config(key, value)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return tune_session(spark)


def calib_ms() -> float:
    """A fixed pure-Python loop: how fast the host runs right now."""
    t0 = time.perf_counter()
    acc = 0
    for i in range(300_000):
        acc += i * i % 7
    return (time.perf_counter() - t0) * 1000


def _cpu_times() -> list[int]:
    """The host's aggregate CPU counters (user, nice, system, idle, iowait,
    irq, softirq, steal, ...) from /proc/stat."""
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:]]


def _hwm_kb(pid: int | str) -> int:
    with open(f"/proc/{pid}/status") as fh:
        return int(re.search(r"VmHWM:\s+(\d+)", fh.read()).group(1))


def _reset_hwm() -> None:
    """Forget this process's resident peak so far (the expected-result
    computation runs before the engine starts and is not the engine's)."""
    try:
        with open("/proc/self/clear_refs", "w") as fh:
            fh.write("5")
    except OSError:
        pass


def _stop_jvm(spark) -> None:
    """Stop Spark and wait until the JVM this process launched (and
    with it the Python workers Spark started) has exited."""
    gateway = spark.sparkContext._gateway
    jvm = gateway.proc
    spark.stop()
    gateway.shutdown()
    jvm.stdin.close()
    try:
        jvm.wait(timeout=30)
    except subprocess.TimeoutExpired:
        jvm.kill()
        jvm.wait()


def make_workload(name: str, seed: int, data: dict, scratch: str):
    import workloads

    if name == "federated_sql":
        return workloads.FederatedSQL(seed, data, scratch)
    if name == "operator_pipeline":
        return workloads.OperatorPipeline(seed, data)
    raise SystemExit(f"unknown workload: {name}")


class Runner:
    def __init__(self, args, scratch: str):
        self.args = args
        self.scratch = scratch
        self.tracer = None
        self.n_stmt = 0
        self.failures = []
        self.t_start = time.perf_counter()

    def execute(self, stmt, pass_no: int):
        """Run one statement; returns (latency seconds, ok, trace record)."""
        tr = self.tracer
        if tr:
            self.n_stmt += 1
            tr.begin(self.spark, f"pb{self.n_stmt}")
        ok = False
        t0 = time.perf_counter()
        try:
            # the warm-up runs the untraced statement (no noop builds);
            # begin/end still record which stages it computed
            res = stmt.run(tr if pass_no >= 0 else None)
            dt = time.perf_counter() - t0
            ok = bool(stmt.check(res))
            if not ok:
                self.failures.append(f"{stmt.name}: wrong result")
        except Exception as exc:  # a failed statement counts as failed
            dt = time.perf_counter() - t0
            self.failures.append(
                f"{stmt.name}: {type(exc).__name__}: {str(exc)[:300]}")
        rec = None
        if tr:
            rec = tr.end(dt * 1000, name=stmt.name, kind=stmt.kind,
                         attached=stmt.attached, pass_no=pass_no)
        return dt, ok, rec

    def run(self) -> int:
        import datagen
        import tracing
        import workloads

        args = self.args
        data = datagen.ensure(DATA_DIR, workloads.BASE_SF, workloads.REPLICAS,
                              workloads.PIPELINE_SF)
        wl = make_workload(args.workload, args.seed, data, self.scratch)
        t0 = time.perf_counter()
        wl.prepare()
        self.prepare_s = time.perf_counter() - t0
        _reset_hwm()
        if args.trace:
            self.tracer = tracing.Tracer()
            self.tracer.install()

        setups, spark = [], None
        try:
            for _ in range(SETUPS):
                if spark is not None:
                    spark.stop()
                t0 = time.perf_counter()
                spark = start_spark(self.scratch)
                wl.setup(spark)
                setups.append(time.perf_counter() - t0)
            self.spark = spark
            attach_ms = []
            if self.tracer:
                attach_ms = [e - s for s, e
                             in self.tracer.spans["sources.attach"]]
                tracing.StreamProgress(self.tracer).register(spark)
            return self._measure(wl, setups, attach_ms,
                                 spark.sparkContext._gateway.proc.pid)
        finally:
            if spark is not None:
                _stop_jvm(spark)

    def _measure(self, wl, setups, attach_ms, jvm_pid) -> int:
        import tracing
        import workloads

        args, tr = self.args, self.tracer
        t0 = time.perf_counter()
        for stmt in workloads.warmup(wl):
            self.execute(stmt, -1)
        warmup_s = time.perf_counter() - t0
        warm_failures = len(self.failures)
        if tr:
            tr.records.clear()
            tr.stream_batches.clear()

        gc0, jit0 = tracing.jvm_times(self.spark)
        cpu0 = _cpu_times()
        lat, busy, attempted, good, untimed_failures = {}, 0.0, 0, 0, 0
        calib = [calib_ms()]
        passes = wl.passes(start=0)
        pass_no = 0
        # whole passes until the measured time reaches --seconds, so every
        # run times every statement of the script
        pass_s = []
        while busy < args.seconds:
            before = busy
            for stmt in next(passes):
                dt, ok, rec = self.execute(stmt, pass_no)
                if rec is not None:  # traced: without the noop build
                    dt = rec["wall_ms"] / 1000
                if stmt.kind == "ddl":
                    untimed_failures += not ok
                    continue
                busy += dt
                attempted += 1
                good += ok
                lat.setdefault(stmt.name, []).append(dt * 1000)
            calib.append(calib_ms())
            pass_s.append(busy - before)
            pass_no += 1
        gc1, jit1 = tracing.jvm_times(self.spark)
        cpu = [b - a for a, b in zip(cpu0, _cpu_times())]
        rss_mb = (_hwm_kb(jvm_pid) + _hwm_kb("self")) / 1024

        every = [x for v in lat.values() for x in v]
        p95 = statistics.quantiles(every, n=20, method="inclusive")[18] \
            if len(every) > 1 else every[0]
        geomean = math.exp(statistics.fmean(
            math.log(statistics.median(v)) for v in lat.values()))
        diag = {
            "jvm.warmup_s": warmup_s,
            "jvm.jit_ms": jit1 - jit0,
            "jvm.gc_ms": gc1 - gc0,
            "jvm.code_cache_mb": tracing.code_cache_mb(self.spark),
            "env.cpu_calib_ms": statistics.median(calib),
            # CPU time the hypervisor gave to other guests (steal) as a
            # share of all CPU time in the timed window
            "env.steal_pct": 100 * cpu[7] / max(1, sum(cpu)),
            "setups_s": setups,
            "timed_s": busy,
            "pass_s": pass_s,
            "samples": len(every),
            "samples_beyond_p95": sum(1 for x in every if x > p95),
            "per_stmt_median_ms": {
                k: statistics.median(v) for k, v in lat.items()},
            "warmup_failures": warm_failures,
            "untimed_failures": untimed_failures,
            "prepare_s": self.prepare_s,
            "run_s": time.perf_counter() - self.t_start,
        }
        for msg in self.failures[:20]:
            print(f"perfbench: failed: {msg}", file=sys.stderr)
        if tr:
            diag["reused_stage_stmts"] = sorted(
                {r["name"] for r in tr.records if r["engine.skipped_stages"]})
            metrics = layer_metrics(tr, diag, attach_ms, geomean)
        else:
            metrics = {
                "setup_s": (statistics.median(setups), "s"),
                "stmts_per_s": (attempted / busy, "1/s"),
                "stmt_geomean_ms": (geomean, "ms"),
                "stmt_p95_ms": (p95, "ms"),
                "ok_rate": (good / attempted, "ratio"),
                "peak_rss_mb": (rss_mb, "MB"),
            }
        print(json.dumps({"diagnostics": diag}))
        failed = attempted - good
        print(json.dumps({
            "correct": failed == 0 and warm_failures == 0
            and untimed_failures == 0,
            "attempted": attempted,
            "failed": failed,
            "metrics": {k: {"value": v, "unit": u}
                        for k, (v, u) in metrics.items()},
        }))
        return 0


def layer_metrics(tr, diag: dict, attach_ms: list, geomean: float) -> dict:
    """Summarise the traced run.  Counts cover the first timed pass (the
    same statements in every run with the same seed); times are means per
    statement over the whole timed window."""
    from tracing import union_ms

    recs = tr.records
    first = [r for r in recs if r["pass_no"] == 0]

    def mean(vals):
        vals = list(vals)
        return statistics.fmean(vals) if vals else 0.0

    def span(r, layer):
        return sum(e - s for s, e in r["spans"].get(layer, []))

    def self_ms(r):
        covered = r["spans"].get("payload.select", []) + r["intervals"]
        return max(0.0, r["wall_ms"] - span(r, "dialect.rewrite")
                   - union_ms(covered))

    def jobs_of(kind):
        return mean(r["engine.jobs"] for r in first if r["kind"] == kind)

    session = [r for r in recs if r["kind"] != "query"]
    selects = [r for r in recs if "payload.select" in r["spans"]]
    wall = sum(r["wall_ms"] for r in recs)
    batches = [b for r in recs for b in r["stream"]]
    first_batches = [b for r in first for b in r["stream"]]
    return {
        "dialect.rewrite_ms": (mean(span(r, "dialect.rewrite")
                                    for r in recs), "ms"),
        "session.self_ms": (mean(self_ms(r) for r in session), "ms"),
        "session.jobs_per_stmt": (mean(r["engine.jobs"] for r in first),
                                  "count"),
        "session.jobs_insert": (jobs_of("insert"), "count"),
        "session.jobs_update": (jobs_of("update"), "count"),
        "session.jobs_delete": (jobs_of("delete"), "count"),
        "session.jobs_merge": (jobs_of("merge"), "count"),
        "session.attached_dml_ms": (mean(r["wall_ms"] for r in recs
                                         if r["attached"]), "ms"),
        "sources.attach_ms": (mean(attach_ms), "ms"),
        "sources.input_bytes": (sum(r["sources.input_bytes"]
                                    for r in first), "bytes"),
        "payload.select_ms": (mean(span(r, "payload.select")
                                   for r in selects), "ms"),
        "payload.rows": (sum(r.get("payload.rows", 0) for r in first),
                         "count"),
        "catalyst.analysis_ms": (mean(r.get("catalyst.analysis_ms", 0)
                                      for r in recs), "ms"),
        "catalyst.optimization_ms": (mean(r.get("catalyst.optimization_ms", 0)
                                          for r in recs), "ms"),
        "catalyst.planning_ms": (mean(r.get("catalyst.planning_ms", 0)
                                      for r in recs), "ms"),
        "engine.jobs": (sum(r["engine.jobs"] for r in first), "count"),
        "engine.stages": (sum(r["engine.stages"] for r in first), "count"),
        "engine.tasks": (sum(r["engine.tasks"] for r in first), "count"),
        "engine.skipped_stages": (sum(r["engine.skipped_stages"]
                                      for r in recs), "count"),
        "engine.executor_run_ms": (mean(r["engine.executor_run_ms"]
                                        for r in recs), "ms"),
        "engine.executor_cpu_ms": (mean(r["engine.executor_cpu_ms"]
                                        for r in recs), "ms"),
        "engine.shuffle_write_bytes": (sum(r["engine.shuffle_write_bytes"]
                                           for r in first), "bytes"),
        "engine.spill_bytes": (sum(r["engine.spill_bytes"] for r in first),
                               "bytes"),
        "engine.core_busy": (sum(r["engine.executor_run_ms"] for r in recs)
                             / (wall * CORES) if wall else 0.0, "ratio"),
        "queries.build_ms": (mean(r["phase_ms"]["build"] for r in recs
                                  if "build" in r["phase_ms"]), "ms"),
        "queries.build_jobs": (sum(r.get("jobs:build", 0) for r in first),
                               "count"),
        "queries.collect_ms": (mean(r["phase_ms"]["collect"] for r in recs
                                    if "collect" in r["phase_ms"]), "ms"),
        "queries.noop_ms": (mean(r["phase_ms"]["noop"] for r in recs
                                 if "noop" in r["phase_ms"]), "ms"),
        "streaming.batches": (len(first_batches), "count"),
        "streaming.batch_ms": (mean(b[1] for b in batches), "ms"),
        "streaming.input_rows": (sum(b[0] for b in first_batches), "count"),
        "jvm.gc_ms": (diag["jvm.gc_ms"], "ms"),
        "jvm.jit_ms": (diag["jvm.jit_ms"], "ms"),
        "jvm.warmup_s": (diag["jvm.warmup_s"], "s"),
        "env.cpu_calib_ms": (diag["env.cpu_calib_ms"], "ms"),
        "env.steal_pct": (diag["env.steal_pct"], "%"),
        "trace.stmt_geomean_ms": (geomean, "ms"),
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True,
                    choices=["federated_sql", "operator_pipeline"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)

    sys.path[:0] = [HERE, ROOT]
    try:
        import multisql_spark.session  # noqa: F401
        import pyspark  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: cannot import the engine from {ROOT}: {exc}",
              file=sys.stderr)
        return 2

    scratch = os.path.join(DATA_DIR, f"run-{os.getpid()}")
    os.makedirs(os.path.join(scratch, "tmp"))
    # every temporary file of the engine, Spark and its Python workers
    # stays inside the checkout
    os.environ["TMPDIR"] = tempfile.tempdir = os.path.join(scratch, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(scratch, "spark")
    try:
        return Runner(args, scratch).run()
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        shutil.rmtree(scratch, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
