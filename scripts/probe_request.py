"""Per-request cost probe for the served path (``POST /process``).

Serves requests of N records drawn from perfbench's record pool, in
perfbench's envelope (its pinned cores, driver heap and session conf),
and prints per timed request:

- build ms: the ``process_records`` call, i.e. the Python plan build;
- collect ms: ``reports_to_json``, i.e. planning plus execution;
- jobs, stages, tasks: the request's job group as the status store
  holds it (perfbench's ``Tracer.read_group``: skipped stages are not
  counted, tasks are completed tasks);
- compiles: Janino compiles (``CodegenMetrics`` compilation count);
- py4j: commands the driver sent to the JVM during the request.

Each response is checked against perfbench's committed report digests.

Usage: python scripts/probe_request.py [--records 16] [--warmup 4] [--requests 8] [--seed 0]
"""

from __future__ import annotations

import argparse
import os
import random
import shutil
import statistics
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path[:0] = [ROOT, os.path.join(ROOT, "perfbench")]

import checks  # noqa: E402  (perfbench/)
import run as perfbench  # noqa: E402
import workloads  # noqa: E402
from tracing import Tracer  # noqa: E402


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--records", type=int, default=16)
    ap.add_argument("--warmup", type=int, default=4)
    ap.add_argument("--requests", type=int, default=8)
    ap.add_argument("--seed", type=int, default=0)
    args = ap.parse_args()

    work = tempfile.mkdtemp(prefix="probe-request-")
    spark, jvm = perfbench.open_session(work, "probe-request")
    from medical_examination_data_etl_system_spark.operators.cache import cache_scope
    from medical_examination_data_etl_system_spark.pipeline import process_records
    from medical_examination_data_etl_system_spark.pipeline.run import reports_to_json

    sc, tracer = spark.sparkContext, Tracer(spark)
    compiles = sc._jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()
    client = sc._gateway._gateway_client
    send, sent = client.send_command, [0]

    def counting_send(*a, **k):
        sent[0] += 1
        return send(*a, **k)

    pool = workloads.record_pool(spark, work, workloads.SCALE)
    expected = checks.committed_digests(workloads.SCALE)
    rng = random.Random(args.seed)
    cols = ("build_ms", "collect_ms", "jobs", "stages", "tasks", "compiles", "py4j")
    timed: list[tuple] = []
    workers: list[int] = []
    try:
        print(f"{'request':>8} " + " ".join(f"{c:>10}" for c in cols) + "  ok")
        for i in range(args.warmup + args.requests):
            req = rng.sample(pool, min(args.records, len(pool)))
            group = f"probe:{i}"
            c0, sent[0] = compiles.getCount(), 0
            client.send_command = counting_send
            with cache_scope():
                sc.setJobGroup(group, group)
                t0 = time.perf_counter()
                reports = process_records(spark, req)
                t1 = time.perf_counter()
                resp = reports_to_json(reports)
                t2 = time.perf_counter()
            client.send_command = send
            c = tracer.read_group(group)
            row = (
                (t1 - t0) * 1e3,
                (t2 - t1) * 1e3,
                c.jobs,
                c.stages,
                c.tasks,
                compiles.getCount() - c0,
                sent[0],
            )
            ok = checks.response_ok(resp, req, expected)
            label = f"warm{i}" if i < args.warmup else f"{i - args.warmup}"
            print(f"{label:>8} " + " ".join(f"{v:>10.0f}" for v in row) + f"  {ok}")
            if i >= args.warmup:
                timed.append(row)
        print(f"{'median':>8} " + " ".join(
            f"{statistics.median(r[j] for r in timed):>10.0f}" for j in range(len(cols))))
        workers = perfbench.descendants(jvm.pid)
    finally:
        perfbench.close_session(spark, jvm, workers)
        shutil.rmtree(work, ignore_errors=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
