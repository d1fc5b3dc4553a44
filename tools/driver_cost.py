"""Driver-side cost of one benchmark job, run after run.

    python tools/driver_cost.py <workload> [runs]

Run from the repository root. Builds (or reuses) the seed-1 corpus of
``perfbench`` for *workload*, starts one session the way
``perfbench/jobs.py`` does, and runs the job *runs* times (default 4) in
that session. For each run it prints one JSON line:

- ``wall_s``: wall time of the job;
- ``py4j_calls`` and ``py4j_s``: driver-to-JVM round trips and their
  total time, each split by call duration (``<1ms``, ``1-5ms``,
  ``>=5ms``; actions and eager checkpoints land in the last bucket);
- ``python_s``: wall time outside py4j calls;
- ``compiles``: Janino compilations of generated code (Spark's
  ``CodegenMetrics``); a run whose classes are all cached makes 0;
- ``spark_jobs``: Spark jobs the run started.

The job code is imported from ``perfbench/jobs.py`` unchanged.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time
from contextlib import contextmanager

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
BENCH = os.path.join(ROOT, "perfbench")
BUCKETS = ((0.001, "<1ms"), (0.005, "1-5ms"), (float("inf"), ">=5ms"))


@contextmanager
def py4j_calls():
    """Count and time every ``GatewayClient.send_command`` in the block;
    yields a dict of per-bucket [calls, seconds]."""
    from py4j.java_gateway import GatewayClient

    stats = {name: [0, 0.0] for _, name in BUCKETS}
    orig = GatewayClient.send_command

    def timed(self, *args, **kwargs):
        t0 = time.perf_counter()
        try:
            return orig(self, *args, **kwargs)
        finally:
            dt = time.perf_counter() - t0
            name = next(n for bound, n in BUCKETS if dt < bound)
            stats[name][0] += 1
            stats[name][1] += dt

    GatewayClient.send_command = timed
    try:
        yield stats
    finally:
        GatewayClient.send_command = orig


def compiles(spark) -> int:
    """Janino compilations so far in this JVM."""
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def main(argv: list[str]) -> int:
    if not argv or len(argv) > 2:
        print(__doc__, file=sys.stderr)
        return 2
    sys.path[:0] = [ROOT, BENCH]
    import corpus
    import jobs
    from run import DRIVER_MEM, stop_spark

    workload, runs = argv[0], int(argv[1]) if len(argv) > 1 else 4
    if workload not in jobs.JOBS:
        print(f"unknown workload {workload!r}; one of {sorted(jobs.JOBS)}", file=sys.stderr)
        return 2
    # the session layout of perfbench/run.py: local[min(4, nproc - 1)],
    # scratch and temp files under .perfbench/
    n_cores = max(1, min(4, (os.cpu_count() or 2) - 1))
    base = os.path.join(ROOT, ".perfbench")
    run_dir = os.path.join(base, f"cost-{os.getpid()}")
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ.update(
        SPARK_GRAFT_CPUS=str(n_cores),
        SPARK_GRAFT_DRIVER_MEM=DRIVER_MEM,
        SPARK_GRAFT_LOCAL_DIR=os.path.join(run_dir, "local"),
        TMPDIR=tmp,
        JAVA_TOOL_OPTIONS=f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
    )
    meta = corpus.ensure_corpus(
        os.path.join(base, "cache"), workload, 1, corpus.SIZES[workload]
    )
    os.chdir(run_dir)
    spark = None
    try:
        spark, _ = jobs.start(ROOT, run_dir)
        sc = spark.sparkContext
        inp = os.path.join(meta["path"], "payloads")
        out = os.path.join(run_dir, "out")
        for i in range(runs):
            group = f"driver-cost-{i}"
            sc.setJobGroup(group, group)
            before = compiles(spark)
            t0 = time.perf_counter()
            with py4j_calls() as stats:
                jobs.JOBS[workload](spark, inp, out, jobs.Stages())
            wall = time.perf_counter() - t0
            py4j_s = sum(s for _, s in stats.values())
            print(
                json.dumps(
                    {
                        "run": i + 1,
                        "wall_s": round(wall, 3),
                        "py4j_calls": sum(n for n, _ in stats.values()),
                        "py4j_s": round(py4j_s, 3),
                        "py4j_by_duration": {
                            k: {"calls": n, "s": round(s, 3)} for k, (n, s) in stats.items()
                        },
                        "python_s": round(wall - py4j_s, 3),
                        "compiles": compiles(spark) - before,
                        "spark_jobs": len(sc.statusTracker().getJobIdsForGroup(group)),
                    }
                ),
                flush=True,
            )
    finally:
        if spark is not None:
            stop_spark(spark)
        os.chdir(ROOT)
        shutil.rmtree(run_dir, ignore_errors=True)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
