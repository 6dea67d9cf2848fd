"""Benchmark for the engine's served paths and its query battery.

    python3 perfbench/run.py --workload api_small --seed 1 --seconds 10 --trace 0

Run from the repository root. Workloads (see workloads.py and
BENCHMARK.json): ``api_small``, ``stream_bulk``, ``analytics_mix``.

With ``--trace 0`` the last stdout line is one JSON object holding the
end-to-end metrics; with ``--trace 1`` it holds the per-layer metrics of
a separate traced run, whose spans go to
``.perfbench_work/trace-<workload>-<seed>.json``. Earlier lines print
every metric by name with its unit, what the tail is and its sample
count, the share of failed ops and, in a traced run, the tracing
overhead against the untraced run of the same workload and seed.

The launcher pins the execution envelope before Spark starts: local
mode on half the cores the process may use, a 2 GiB driver heap, the
repository root on the Python workers' path, Spark and temp files
inside the checkout, the mock LLM (no Azure settings) and the fallback
dims (no MongoDB), and one client thread.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

import workloads

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "medical_examination_data_etl_system_spark"
WORKLOADS = ("api_small", "stream_bulk", "analytics_mix")
DRIVER_MEM = "2g"

END_TO_END = {
    "setup_s": "s",
    "pass_s": "s",
    "op_p50_ms": "ms",
    "op_tail_ms": "ms",
    "records_per_s": "1/s",
    "peak_rss_mb": "MB",
}

QUERY_MODULES = sorted({module for _, module, _ in workloads.ANALYTICS})
PER_LAYER = {
    "api.jobs": "count",
    "api.stages": "count",
    "api.tasks": "count",
    "api.executor_cpu_ms": "ms",
    "api.driver_gap_ms": "ms",
    **{
        f"pipeline.{layer}.{m}": u
        for layer in workloads.PIPELINE_LAYERS
        for m, u in (("ms", "ms"), ("plan_ms", "ms"), ("jobs", "count"), ("shuffle_mb", "MB"))
    },
    "streaming.pipeline.add_batch_ms": "ms",
    "streaming.pipeline.query_planning_ms": "ms",
    "streaming.pipeline.latest_offset_ms": "ms",
    "streaming.pipeline.wal_commit_ms": "ms",
    "streaming.pipeline.commit_offsets_ms": "ms",
    "streaming.pipeline.jobs_per_batch": "count",
    "streaming.pipeline.output_mb": "MB",
    "streaming.pipeline.output_files": "count",
    "streaming.sources.scans_per_batch": "ratio",
    "queries.build_ms": "ms",
    "queries.build_jobs": "count",
    "queries.plan_ms": "ms",
    "queries.exec_ms": "ms",
    "queries.exec_jobs": "count",
    "queries.tasks": "count",
    "queries.executor_cpu_s": "s",
    "queries.shuffle_write_mb": "MB",
    "queries.spill_mb": "MB",
    **{f"queries.{m}.ms": "ms" for m in QUERY_MODULES},
    "operators.cache.persisted_rdds": "count",
    "operators.cache.persisted_mb": "MB",
    "session.gc_ms": "ms",
    "session.jobs_total": "count",
}


def process_age_s() -> float:
    """Seconds since this process started, from /proc."""
    with open("/proc/self/stat") as fh:
        start_ticks = int(fh.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as fh:
        uptime = float(fh.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def steal_s() -> float:
    """CPU seconds the hypervisor has taken from this machine's vCPUs
    since boot (the ``steal`` column of /proc/stat)."""
    with open("/proc/stat") as fh:
        return int(fh.readline().split()[8]) / os.sysconf("SC_CLK_TCK")


def vm_hwm_mb(pid: int) -> float:
    """Peak resident set (VmHWM) of one process, in MB; 0 if it is gone."""
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


def descendants(pid: int) -> list[int]:
    """Live descendant pids of ``pid`` (the JVM's Python workers)."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except OSError:
            continue
        children.setdefault(ppid, []).append(int(entry))
    out, todo = [], [pid]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def stop_workers(pids: list[int], timeout_s: float = 10.0) -> None:
    """Wait for the JVM's Python workers to exit (they stop when the JVM
    does); kill any still alive after ``timeout_s``."""
    deadline = time.monotonic() + timeout_s
    while True:
        pids = [p for p in pids if os.path.exists(f"/proc/{p}")]
        if not pids or time.monotonic() > deadline:
            break
        time.sleep(0.05)
    for p in pids:
        try:
            os.kill(p, signal.SIGKILL)
        except ProcessLookupError:
            pass


def tail(values: list[float], passes: int) -> tuple[float, str]:
    """(value, what it is) of the highest percentile with at least ten
    samples beyond it. Below 21 samples that percentile would sit under
    the median; then the slowest op of each pass is taken, and the median
    over the passes reported, which moves less from run to run than the
    single slowest op. ``values`` holds the ops of each pass in turn."""
    xs = sorted(values)
    n = len(xs)
    if n >= 21:
        k = n - 11
        return xs[k], f"p{100.0 * (k + 1) / n:.1f} of {n} ops, {n - 1 - k} beyond it"
    per_pass = n // passes
    slowest = [max(values[i:i + per_pass]) for i in range(0, n, per_pass)]
    return statistics.median(slowest), (
        f"the slowest op of each pass, median over {passes} passes "
        f"({n} ops, too few for a percentile with ten beyond it)"
    )


def pin_envelope(work: str) -> None:
    """Environment the JVM and its Python workers inherit."""
    for key in list(os.environ):
        if key.startswith(("AZURE_OPENAI_", "MONGO_", "SPARK_GRAFT_", "PYSPARK_")) or key in (
            "SPARK_MASTER", "SPARK_SHUFFLE_PARTITIONS", "SPARK_CONNECT_MODE_ENABLED",
        ):
            del os.environ[key]
    # Half the cores: the driver's Python process, the JVM's compiler and
    # GC threads and the Python workers run beside the task threads. With
    # a task thread on every core, a little hypervisor steal on a shared
    # host slowed whole requests by a fifth.
    os.environ["SPARK_GRAFT_CPUS"] = str(max(1, len(os.sched_getaffinity(0)) // 2))
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["PYTHONPATH"] = os.pathsep.join([ROOT, HERE])
    os.environ["PYSPARK_PYTHON"] = sys.executable
    for sub in ("spark-local", "tmp"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")


def open_session(work: str, app_name: str):
    """A fresh work directory, the pinned envelope and a Spark session on
    it; returns the session and its gateway JVM process."""
    shutil.rmtree(work, ignore_errors=True)
    pin_envelope(work)
    sys.path.insert(0, ROOT)
    from medical_examination_data_etl_system_spark import get_spark

    tmp = os.path.join(work, "tmp")
    spark = get_spark(
        app_name=app_name,
        extra_conf={
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        },
    )
    return spark, spark.sparkContext._gateway.proc


def close_session(spark, jvm, workers: list[int]) -> None:
    """Stop the session and wait until the JVM and its workers are gone."""
    spark.stop()
    jvm.stdin.close()  # the gateway JVM exits when its stdin closes
    try:
        jvm.wait(timeout=60)
    except subprocess.TimeoutExpired:
        jvm.kill()
        jvm.wait()
    stop_workers(workers)


class Run:
    """One benchmark run: the session, its settings and what it measured."""

    def __init__(self, spark, work: str, seed: int, seconds: int, traced: bool, scale: float):
        from tracing import Tracer

        self.spark, self.work, self.seed, self.seconds = spark, work, seed, seconds
        self.scale = scale
        self.tracer = Tracer(spark) if traced else None
        self.layer_samples: dict[str, list[float]] = {}
        self.setup_s: float | None = None
        self._t_timed = 0.0
        self._steal_timed = 0.0
        self._t_phase = time.perf_counter()
        self.phases: dict[str, float] = {"session": process_age_s()}

    def phase(self, name: str) -> None:
        """Close one named step of set-up (printed with the results)."""
        now = time.perf_counter()
        self.phases[name] = now - self._t_phase
        self._t_phase = now

    def start_timed(self) -> None:
        """End of set-up: process start to the first timed op."""
        self.setup_s = process_age_s()
        self._t_timed = time.perf_counter()
        self._steal_timed = steal_s()
        self.phases["rest"] = self._t_timed - self._t_phase

    def steal_share(self) -> float:
        """Share of the vCPUs' time the hypervisor took since the first
        timed op: a noisy host shows here, not in the program."""
        wall = time.perf_counter() - self._t_timed
        return (steal_s() - self._steal_timed) / (wall * len(os.sched_getaffinity(0)))

    def more_passes(self, done: int, passes: int) -> bool:
        """Whether to start another timed pass: every run makes at least
        ``passes`` of them, so runs measure the same work, and keeps on
        until ``--seconds`` have passed."""
        return done < passes or time.perf_counter() - self._t_timed < self.seconds

    def op(self, group: str | None, fn):
        """(milliseconds, result or None, error or None) of one op, run
        under its own job group in a traced run."""
        t = time.perf_counter()
        try:
            if self.tracer is not None and group is not None:
                with self.tracer.job_group(group):
                    out = fn()
            else:
                out = fn()
            err = None
        except Exception as exc:  # a failed op is counted, not fatal
            out, err = None, exc
            print(f"op failed: {type(exc).__name__}: {exc}"[:500], file=sys.stderr)
        return (time.perf_counter() - t) * 1000.0, out, err

    def sample(self, name: str, value: float) -> None:
        self.layer_samples.setdefault(name, []).append(float(value))


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", type=float, default=None, help=argparse.SUPPRESS)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"perfbench: {PACKAGE}/ not found next to perfbench/; run from a full checkout",
              file=sys.stderr)
        return 2

    state = os.path.join(ROOT, ".perfbench_work")
    work = os.path.join(state, "run")
    spark, jvm = open_session(work, f"perfbench-{args.workload}")
    workers: list[int] = []
    try:
        run = Run(spark, work, args.seed, args.seconds, bool(args.trace), args.scale or workloads.SCALE)
        outcome = getattr(workloads, args.workload)(run)
        steal = run.steal_share()
        workers = descendants(jvm.pid)
        rss_parts = (vm_hwm_mb(jvm.pid), vm_hwm_mb(os.getpid()), sum(map(vm_hwm_mb, workers)))
        if run.tracer is not None:
            run.tracer.write(os.path.join(state, f"trace-{args.workload}-{args.seed}.json"))
    finally:
        close_session(spark, jvm, workers)

    w = args.workload
    pass_s = statistics.median(outcome.pass_s)
    tail_ms, tail_what = tail(outcome.op_ms, len(outcome.pass_s))
    e2e = {
        "setup_s": run.setup_s,
        "pass_s": pass_s,
        "op_p50_ms": statistics.median(outcome.op_ms),
        "op_tail_ms": tail_ms,
        "records_per_s": outcome.records / sum(outcome.pass_s),
        "peak_rss_mb": sum(rss_parts),
    }
    failed_share = outcome.failed / max(1, outcome.attempted)
    for name, value in e2e.items():
        print(f"{w}/{name} = {value:.6g} {END_TO_END[name]}")
    print(f"{w}/setup_s steps: " + ", ".join(f"{k} {v:.2f} s" for k, v in run.phases.items()))
    print(f"{w}/peak_rss_mb parts: JVM {rss_parts[0]:.0f} MB, driver {rss_parts[1]:.0f} MB, "
          f"{len(workers)} Python workers {rss_parts[2]:.0f} MB")
    print(f"{w}/op_tail_ms is {tail_what}")
    print(f"{w}/failed_op_share = {failed_share:.6g} ({outcome.failed} of {outcome.attempted} ops)")
    print(f"{w}/host_steal_share = {steal:.3f} (vCPU time taken by the hypervisor during the timed ops)")

    overhead_file = os.path.join(state, f"untraced-{w}-{args.seed}.json")
    if args.trace:
        metrics = {}
        for name, unit in PER_LAYER.items():
            samples = run.layer_samples.get(name)
            if not samples:
                print(f"{w}/{name}: not exercised by {w}, reported as 0")
            value = statistics.median(samples) if samples else 0.0
            metrics[name] = {"value": value, "unit": unit}
            print(f"{w}/{name} = {value:.6g} {unit}")
        try:
            with open(overhead_file) as fh:
                untraced = json.load(fh)["pass_s"]
            print(f"{w}/tracing_overhead_s = {pass_s - untraced:.6g} s "
                  f"(traced pass {pass_s:.6g} s, untraced {untraced:.6g} s)")
        except (OSError, ValueError, KeyError):
            print(f"{w}/tracing_overhead_s: unavailable, no untraced run with seed {args.seed} "
                  "in this checkout")
    else:
        metrics = {k: {"value": v, "unit": END_TO_END[k]} for k, v in e2e.items()}
        with open(overhead_file, "w") as fh:
            json.dump({"pass_s": pass_s}, fh)
    print(json.dumps({
        "correct": outcome.failed == 0,
        "attempted": outcome.attempted,
        "failed": outcome.failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
