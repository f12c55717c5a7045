"""Lake-writer benchmark: one command, three workloads, outputs checked.

    python3 perfbench/run.py --workload ingest_bulk --seed 1 --seconds 10 --trace 0

Run from the repository root. Workloads (sizes in perfbench/config.json):

- ``ingest_bulk``: seeded bulk loads of Location records through
  ``ingest.batch.ingest_batch`` (partition ``user_id``, key ``timestamp``,
  4096 rows/file, snappy), each then ``ingest.snapshots.commit_append``-ed
  into a fresh snapshot table. Executor-heavy: shuffle, sort, encode, many
  small files; one commit per load.
- ``stream_lake``: an open-loop generator lands one 4096-row file per tick;
  ``ingest.streaming.read_stream`` -> ``foreachBatch(streaming_append_sink)``
  commits each micro-batch while one closed-loop client runs pinned
  entity + time-range ``ingest.file_skipping.scan_table`` reads; a final
  drain drops a backlog at once. Driver- and metadata-bound.
- ``query_corpus``: a fixed subset of ``queries.driver_queries()`` (one
  entry per driver-surface module) over a seeded sf corpus, each entry
  timed through a noop sink with ``clearCache()`` between entries.

Output: the line before last is a JSON report with every named metric of
the workload (and, with ``--trace 1``, the per-layer metrics, span self
times and the tracing overhead); the last line is the result object
``{"correct", "attempted", "failed", "metrics"}`` whose metrics are the
end-to-end set (``--trace 0``) or the per-layer set (``--trace 1``) named in
BENCHMARK.json. ``failed_ratio`` in the report is ``failed / attempted``.

Every run writes only under ``.bench_work/`` in the checkout, and removes
its own scratch there when it ends (traces are kept under
``.bench_work/traces``).
"""

from __future__ import annotations

import argparse
import importlib
import json
import math
import os
import shlex
import shutil
import statistics
import subprocess
import sys
import time
from collections import defaultdict

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
TRACES = os.path.join(ROOT, ".bench_work", "traces")
WORKLOADS = ("ingest_bulk", "stream_lake", "query_corpus")
SETUP_ROUNDS = 3  # setup_s is their median


def percentile(values, q: float) -> float:
    """Inclusive-interpolated quantile (``q`` in 0..1); 0.0 for no values."""
    vals = sorted(values)
    if not vals:
        return 0.0
    if len(vals) == 1:
        return float(vals[0])
    pos = q * (len(vals) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(vals) - 1)
    return vals[lo] + (vals[hi] - vals[lo]) * (pos - lo)


class Run:
    """State of one benchmark run, handed to the workload module."""

    def __init__(self, args, config: dict, work: str):
        self.seed = args.seed
        self.seconds = args.seconds
        self.trace = bool(args.trace)
        self.config = config
        self.params = config["workloads"][args.workload]
        self.workload = args.workload
        self.work = work
        self.cores = int(os.environ["SPARK_GRAFT_CPUS"])
        self.attempted = 0
        self.failures: list[str] = []
        # the workload's timed operations, seconds, per kind of operation
        self.op_s: dict[str, list[float]] = defaultdict(list)
        self.report: dict[str, tuple[float, str]] = {}
        self.layers: dict[str, float] = {}
        self.spark = None
        self.tracer = None

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    def fail(self, problems) -> None:
        self.failures.extend(problems)

    def metric(self, name: str, value: float, unit: str) -> None:
        self.report[name] = (float(value), unit)


def jvm_peak_rss_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("VmHWM not found")


def configure_environment(run_config: dict, work: str, trace: bool, cores: int) -> None:
    """Everything the JVM, Spark and Python write goes under ``work``."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    import tempfile

    tempfile.tempdir = tmp
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = run_config["driver_mem"]
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        # -XX:-UsePerfData: no hsperfdata files outside the checkout
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -Dderby.system.home={tmp} -XX:-UsePerfData",
    }
    if trace:
        log_dir = os.path.join(work, "eventlog")
        os.makedirs(log_dir, exist_ok=True)
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + log_dir,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    args = " ".join(f"--conf {shlex.quote(f'{k}={v}')}" for k, v in conf.items())
    os.environ["PYSPARK_SUBMIT_ARGS"] = f"{args} pyspark-shell"


def stop_spark(spark) -> None:
    """Stop the session, then the gateway JVM, and wait for it to exit."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    try:
        gateway.shutdown()
    finally:
        SparkContext._gateway = None
        SparkContext._jvm = None
        if proc is not None:
            proc.stdin.close()  # the gateway server exits when stdin closes
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=30)


def geomean(values) -> float:
    values = list(values)
    return math.exp(sum(math.log(v) for v in values) / len(values)) if values else 0.0


def end_to_end(run: Run, setup_rounds: list[float]) -> None:
    """Set-up time and operation latency, into the run's report. Latency is
    taken per kind of operation (one kind on ``ingest_bulk`` and
    ``stream_lake``; one kind per corpus entry on ``query_corpus``) and the
    kinds are combined by geometric mean, so every kind weighs the same
    however many times it ran: ``op_ms_p50`` is the median latency on a
    one-kind workload. Only ``op_ms_p50`` is a BENCHMARK.json metric: a run
    holds too few operations of a kind for a p90 with ten samples beyond
    it, so p90 is reported with the sample count."""
    kinds = [[s * 1000.0 for s in ops] for ops in run.op_s.values() if ops]
    run.metric("setup_s", statistics.median(setup_rounds), "s")
    run.metric("op_ms_p50", geomean(percentile(ms, 0.5) for ms in kinds), "ms")
    run.metric("op_ms_p90", geomean(percentile(ms, 0.9) for ms in kinds), "ms")
    run.metric("op_samples", sum(len(ms) for ms in kinds), "count")


def tracing_overhead(run: Run, measure_s: float) -> dict:
    """The traced run's overhead: the tracer's own time on the timed path,
    as seconds and as a share of the measured window, and the last
    traced-against-untraced comparison ``perfbench/overhead.py`` wrote for
    this workload (a run cannot be traced and untraced at once)."""
    out = {"tracer_s": run.tracer.cost_s(), "tracer_share": run.tracer.cost_s() / measure_s}
    ab = os.path.join(TRACES, f"overhead-{run.workload}.json")
    if os.path.exists(ab):
        with open(ab) as f:
            out["overhead_py"] = json.load(f)
    return out


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "iceberg_file_writer_spark")):
        print(f"perfbench: no iceberg_file_writer_spark package under {ROOT}", file=sys.stderr)
        return 2
    with open(os.path.join(HERE, "config.json")) as f:
        config = json.load(f)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        benchmark = json.load(f)
    sys.path.insert(0, ROOT)

    work = os.path.join(ROOT, ".bench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    cores = len(os.sched_getaffinity(0))
    configure_environment(config["run"], work, bool(args.trace), cores)
    run = Run(args, config, work)
    module = importlib.import_module(f"perfbench.{args.workload}")

    from iceberg_file_writer_spark.session import get_spark

    from perfbench.tracing import Tracer

    try:
        spark = get_spark("perfbench")
        spark.sparkContext.setLogLevel("ERROR")
        run.spark = spark
        run.tracer = Tracer(run.trace, spark)
        jvm_pid = spark._jvm.java.lang.ProcessHandle.current().pid()
        try:
            setup_rounds = []
            for i in range(SETUP_ROUNDS):
                t = time.perf_counter()
                run.attempted += 1
                try:
                    module.setup(run, i)
                except Exception as e:  # fall back: measure without this warm-up
                    run.fail([f"set-up round {i}: {e!r}"])
                setup_rounds.append(time.perf_counter() - t)
            t0 = time.perf_counter()
            module.measure(run)
            measure_s = time.perf_counter() - t0
            rss_mb = jvm_peak_rss_mb(jvm_pid)
            module.check(run)
        finally:
            stop_spark(spark)
        if run.trace:
            module.layers(run)
            run.tracer.dump(os.path.join(TRACES, f"{args.workload}-seed{args.seed}.json"))
    finally:
        shutil.rmtree(work, ignore_errors=True)

    failed = len(run.failures)
    attempted = max(run.attempted, 1)
    end_to_end(run, setup_rounds)
    run.metric("peak_rss_mb", rss_mb, "MB")
    run.metric("failed_ratio", failed / attempted, "ratio")
    for problem in run.failures[:20]:
        print(f"perfbench: FAILED {problem}", file=sys.stderr)
    report = {
        "workload": args.workload,
        "seed": args.seed,
        "cores": cores,
        "trace": args.trace,
        "report": {k: {"value": v, "unit": u} for k, (v, u) in run.report.items()},
    }
    names = [(m["name"], m["unit"]) for m in benchmark["per_layer" if run.trace else "end_to_end"]]
    source = run.layers if run.trace else {k: v for k, (v, _) in run.report.items()}
    if run.trace:
        report["spans"] = run.tracer.self_times()
        report["tracing_overhead"] = tracing_overhead(run, measure_s)
    print(json.dumps(report))
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": {n: {"value": float(source.get(n, 0.0)), "unit": u}
                                  for n, u in names}}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
