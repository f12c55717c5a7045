"""ingest_bulk: the reference pipeline as a batch.

Each operation is one bulk load: ``ingest_batch`` of a seeded load of
Location records (the reference config: partition ``user_id``, key
``timestamp``, 4096 rows/file, snappy), then ``commit_append`` of the same
input into a fresh snapshot table. The operation's latency is the sum.
"""

from __future__ import annotations

import os
import shutil
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from perfbench import checks, gen
from perfbench.run import Run, percentile
from perfbench.tracing import (
    EventLog,
    find_event_log,
    layer_counters,
    metadata_bytes,
    span_split,
    summed,
)


def _generate(run: Run) -> None:
    p = run.params
    users = gen.Users(p["users"], p["zipf_s"])
    run.loads = []
    for k in range(p["distinct_loads"]):
        rng = np.random.default_rng([run.seed, k])
        d = run.path("in", f"load{k}")
        table = gen.write_bulk_load(rng, users, p["rows_per_load"], p["files_per_load"], d)
        run.loads.append((d, table))
    rng = np.random.default_rng([run.seed, 1_000])
    run.warm_dir = run.path("in", "warm")
    gen.write_bulk_load(rng, users, p["rows_per_load"], p["files_per_load"], run.warm_dir)


def _load(run: Run, in_dir: str, out_dir: str, snap_dir: str, op) -> tuple[float, float]:
    from iceberg_file_writer_spark.ingest.batch import IngestConfig, ingest_batch, read_source
    from iceberg_file_writer_spark.ingest.snapshots import commit_append

    spark, tracer, p = run.spark, run.tracer, run.params
    cfg = IngestConfig(max_rows_per_file=p["rows_per_file"])
    t0 = time.perf_counter()
    with tracer.span("ingest.batch", op, tag=True):
        ingest_batch(read_source(spark, in_dir, source_format="parquet"), out_dir, cfg)
    t1 = time.perf_counter()
    with tracer.span("ingest.snapshots", op, tag=True):
        commit_append(spark, read_source(spark, in_dir, source_format="parquet"), snap_dir,
                      max_rows=p["rows_per_file"])
    return t1 - t0, time.perf_counter() - t1


def setup(run: Run, round_no: int) -> None:
    """Generate the loads, then warm both write paths with ``warm_loads``
    loads of the measured size. The first ~10 loads of a session run up to
    twice as slow as later ones, so the measured loads start only after
    every round has warmed."""
    _generate(run)
    warm = run.path("warm", str(round_no))
    try:
        for i in range(run.params["warm_loads"]):
            _load(run, run.warm_dir, os.path.join(warm, f"t{i}"), os.path.join(warm, f"s{i}"),
                  f"warm{round_no}.{i}")
    finally:
        shutil.rmtree(warm, ignore_errors=True)


def measure(run: Run) -> None:
    from iceberg_file_writer_spark.ingest.snapshots import CommitConflict

    run.ops = []  # (load index, output dir, snapshot dir, ingest s, append s)
    run.conflicts = 0
    deadline = time.perf_counter() + run.seconds
    k = 0
    while True:
        load = k % len(run.loads)
        out_dir, snap_dir = run.path("out", f"t{k}"), run.path("out", f"s{k}")
        run.attempted += 2
        try:
            ingest_s, append_s = _load(run, run.loads[load][0], out_dir, snap_dir, k)
        except CommitConflict as e:
            run.conflicts += 1
            run.fail([f"load {k}: {e!r}"])
        except Exception as e:  # a failed load is counted, the run goes on
            run.fail([f"load {k}: {e!r}"])
        else:
            run.ops.append((load, out_dir, snap_dir, ingest_s, append_s))
            run.op_s["load"].append(ingest_s + append_s)
        k += 1
        # the next load starts only if it would end (taking the last
        # load's time) inside the window
        if not run.ops or time.perf_counter() + sum(run.ops[-1][3:]) > deadline:
            break
    rows = run.params["rows_per_load"]
    ingest = [o[3] for o in run.ops]
    append = [o[4] for o in run.ops]
    run.metric("loads", len(run.ops), "count")
    run.metric("ingest_rows_per_s", rows * len(ingest) / sum(ingest) if ingest else 0, "rows/s")
    run.metric("append_rows_per_s", rows * len(append) / sum(append) if append else 0, "rows/s")
    run.metric("ingest_ms_p50", 1000 * percentile(ingest, 0.5), "ms")
    run.metric("ingest_ms_p90", 1000 * percentile(ingest, 0.9), "ms")
    run.metric("append_ms_p50", 1000 * percentile(append, 0.5), "ms")
    run.metric("append_ms_p90", 1000 * percentile(append, 0.9), "ms")


def snapshot_rows(table_path: str):
    """The current snapshot's data files, read with pyarrow."""
    from iceberg_file_writer_spark.ingest.snapshots import current_version, read_manifest

    files = read_manifest(table_path, current_version(table_path))["files"]
    return files, pa.concat_tables(pq.read_table(os.path.join(table_path, e["path"])) for e in files)


def check(run: Run) -> None:
    p = run.params
    total_bytes = total_files = snap_files = 0
    for load, out_dir, snap_dir, _, _ in run.ops:
        expected = run.loads[load][1]
        run.fail(checks.check_bulk_layout(out_dir, expected, "user_id", "timestamp",
                                          p["rows_per_file"]))
        files = checks.parquet_files(out_dir)
        total_files += len(files)
        total_bytes += sum(os.path.getsize(f) for f in files)
        entries, got = snapshot_rows(snap_dir)
        snap_files += len(entries)
        run.fail(checks.check_same_rows(got, expected, f"snapshot table {snap_dir}"))
    n = max(len(run.ops), 1)
    run.files_per_load = total_files / n
    run.files_per_commit = snap_files / n
    run.metric("ingest_bytes_per_row", total_bytes / (n * p["rows_per_load"]), "B")
    run.metric("files_per_load", run.files_per_load, "count")


def layers(run: Run) -> None:
    log = EventLog(find_event_log(run.path("eventlog")))
    batch = span_split(run.tracer, log, "ingest.batch")
    snaps = span_split(run.tracer, log, "ingest.snapshots")
    n = max(len(batch), 1)
    wall = sum(w for w, _, _ in batch)
    counters = layer_counters("ingest.batch", summed(batch), wall, run.cores)
    for key in ("tasks", "executor_run_s", "executor_cpu_s", "gc_s", "shuffle_write_bytes",
                "spill_bytes"):
        run.layers[f"ingest.batch.{key}"] = counters[f"ingest.batch.{key}"] / n
    run.layers.update(
        {
            "ingest.batch.wall_s": wall / n,
            "ingest.batch.driver_s": sum(w - c for w, c, _ in batch) / n,
            "ingest.batch.files_written": run.files_per_load,
            "ingest.batch.executor_busy": counters["ingest.batch.executor_busy"],
        }
    )
    m = max(len(snaps), 1)
    run.layers.update(
        {
            "ingest.snapshots.append_job_s": sum(c for _, c, _ in snaps) / m,
            "ingest.snapshots.append_driver_s": sum(w - c for w, c, _ in snaps) / m,
            "ingest.snapshots.files_per_commit": run.files_per_commit,
            "ingest.snapshots.manifest_bytes_per_commit":
                sum(metadata_bytes(s) for _, _, s, _, _ in run.ops) / m,
            "ingest.snapshots.commits": len(snaps),
            "ingest.snapshots.commit_conflicts": run.conflicts,
        }
    )

