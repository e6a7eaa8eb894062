"""The benchmark's own checks.  Each case starts the benchmark in a
subprocess, so a run takes about a minute per workload:

    python3 -m pytest perfbench/test_perfbench.py -q

- two traced runs with the same seed report identical exact counts;
- the traced run sees no reused stage (the fresh-plan guard);
- every result of the run is correct;
- the fresh-plan guard flags a DataFrame executed a second time;
- without the engine next to it, the benchmark fails fast and prints no
  result.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ["federated_sql", "operator_pipeline"]
EXACT = [
    "engine.jobs",
    "engine.stages",
    "session.jobs_per_stmt",
    "session.jobs_insert",
    "session.jobs_update",
    "session.jobs_delete",
    "session.jobs_merge",
    "queries.build_jobs",
    "payload.rows",
]


def _run(workload: str, seed: int, trace: int, cwd: str = ROOT):
    proc = subprocess.run(
        [sys.executable, os.path.join(cwd, "perfbench", "run.py"),
         "--workload", workload, "--seed", str(seed), "--seconds", "5",
         "--trace", str(trace)],
        cwd=cwd, capture_output=True, text=True, timeout=300)
    return proc


def _result(proc) -> dict:
    assert proc.returncode == 0, proc.stderr[-2000:]
    return json.loads(proc.stdout.strip().splitlines()[-1])


@pytest.mark.parametrize("workload", WORKLOADS)
def test_exact_counts_repeat(workload):
    a = _result(_run(workload, 7, 1))
    b = _result(_run(workload, 7, 1))
    for res in (a, b):
        assert res["correct"] and res["failed"] == 0
        assert res["metrics"]["engine.skipped_stages"]["value"] == 0
    for name in EXACT:
        assert a["metrics"][name] == b["metrics"][name], name


def test_fails_without_engine(tmp_path):
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns(".data", "__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    proc = _run("federated_sql", 1, 0, cwd=str(tmp_path))
    assert proc.returncode != 0
    assert '"metrics"' not in proc.stdout


def test_guard_flags_a_reexecuted_dataframe(tmp_path):
    """The bench.py trap: collecting one DataFrame again reuses its shuffle
    output, which the guard counts; a fresh build of the same query does
    not."""
    sys.path[:0] = [HERE, ROOT]
    import run
    import tracing

    os.makedirs(tmp_path / "tmp")
    spark = run.start_spark(str(tmp_path))
    try:
        tr = tracing.Tracer()

        def build():
            return spark.range(100_000).selectExpr("id % 7 AS k") \
                .groupBy("k").count()

        reused = []
        df = build()
        for i, frame in enumerate([df, df, build()]):
            tr.begin(spark, f"guard{i}")
            frame.collect()
            reused.append(tr.end(0.0)["engine.skipped_stages"])
        assert reused[0] == 0 and reused[1] > 0 and reused[2] == 0
    finally:
        spark.stop()
