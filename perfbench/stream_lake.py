"""stream_lake: streamed commits beside pinned reads.

An open-loop generator thread lands one ``rows_per_file`` parquet file in
the source dir every ``1 / files_per_s`` seconds; every row of a file has
``timestamp`` equal to the file's due time (epoch ms). A Structured
Streaming query, ``ingest.streaming.read_stream`` ->
``foreachBatch(ingest.snapshots.streaming_append_sink)``, commits each
micro-batch as a snapshot. The main thread is a closed loop with one
client: entity + time-range ``scan_table`` reads (``user_id = u AND
timestamp >= now - scan_window_ms``), each pinned to the version it read.
The timed operation is one scan (plan + count). After the window, a drain
drops ``drain_files`` files at once under ``max_files_per_trigger``.
"""

from __future__ import annotations

import math
import os
import shutil
import threading
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.errors import StreamingQueryException
from pyspark.sql.streaming import StreamingQueryListener

from perfbench import checks, gen
from perfbench.run import Run, percentile
from perfbench.tracing import EventLog, find_event_log, metadata_bytes, span_split

TS = "timestamp"


def _file_tables(run: Run, n: int, salt: int) -> list[pa.Table]:
    p = run.params
    users = gen.Users(p["users"], p["zipf_s"])
    rng = np.random.default_rng([run.seed, salt])
    rows = p["rows_per_file"]
    return [gen.location_table(rng, users, rows, np.zeros(rows, np.int64)) for _ in range(n)]


def _with_ts(table: pa.Table, ts_ms: int) -> pa.Table:
    i = table.schema.get_field_index(TS)
    return table.set_column(i, TS, pa.array(np.full(table.num_rows, ts_ms, np.int64)))


def _land(table: pa.Table, stage: str, src: str, name: str) -> None:
    """Write outside the source dir, then rename in: the file source never
    sees a partial file."""
    tmp = os.path.join(stage, name)
    pq.write_table(table, tmp, compression="snappy")
    os.rename(tmp, os.path.join(src, name))


class Stream:
    """The streaming query; the sink call is a span in the traced run."""

    def __init__(self, run: Run, src: str, table: str, ckpt: str, warm: bool = False):
        from iceberg_file_writer_spark.ingest.snapshots import streaming_append_sink
        from iceberg_file_writer_spark.ingest.streaming import read_stream

        p = run.params
        sink = streaming_append_sink(table, max_rows=p["rows_per_file"])
        tracer = run.tracer

        def traced_sink(batch_df, batch_id):
            op = f"warm.{batch_id}" if warm else int(batch_id)
            with tracer.span("ingest.snapshots.sink", op, tag=True):
                sink(batch_df, batch_id)

        df = read_stream(run.spark, src, source_format="parquet",
                         max_files_per_trigger=p["max_files_per_trigger"])
        self.query = (df.writeStream.foreachBatch(traced_sink)
                      .option("checkpointLocation", ckpt).start())

    def stop(self) -> str | None:
        """Stop the query; the error it terminated with, if any."""
        err = self.query.exception()
        self.query.stop()
        return None if err is None else str(err)


def _scan(run: Run, table: str, user: str, since_ms: int, version: int, op):
    from iceberg_file_writer_spark.ingest.file_skipping import scan_table

    conj = [("user_id", "=", user), (TS, ">=", since_ms)]
    t0 = time.perf_counter()
    with run.tracer.span("ingest.file_skipping", op, tag=True):
        df = scan_table(run.spark, table, conj, version=version)
        t1 = time.perf_counter()
        n = df.count()
    t2 = time.perf_counter()
    return n, t1 - t0, t2 - t1, scan_table.last_files


class Lake:
    """Files landing in ``root/src`` at the offered rate (a generator
    thread), streamed into the snapshot table ``root/lake``, read by one
    closed-loop client (``reads``)."""

    def __init__(self, run: Run, root: str, tables: list[pa.Table], seconds: float | None = None,
                 warm: bool = False):
        self.src, self.stage, self.table = (os.path.join(root, d) for d in ("src", "stage", "lake"))
        os.makedirs(self.src)
        os.makedirs(self.stage)
        self.landed = []  # (due ms, landed ms, table, is drain file)
        self.stream = Stream(run, self.src, self.table, os.path.join(root, "ckpt"), warm)
        self.stop = threading.Event()
        self.start = time.time() + 0.2
        self.end = None if seconds is None else self.start + seconds  # of the landing
        self.thread = threading.Thread(target=self._generate,
                                       args=(run.params["files_per_s"], tables))
        self.thread.start()

    def _generate(self, rate: float, tables: list[pa.Table]) -> None:
        for i, table in enumerate(tables):
            due = self.start + i / rate
            if self.end is not None and due >= self.end:
                return
            if self.stop.wait(max(0.0, due - time.time())):
                return
            due_ms = int(due * 1000)
            landed = _with_ts(table, due_ms)
            _land(landed, self.stage, self.src, f"f{i:05d}.parquet")
            self.landed.append((due_ms, time.time() * 1000.0, landed, False))

    def reads(self, run: Run, rng: np.random.Generator, more, op):
        """Pinned scans while ``more(k)`` for the k-th scan: yields (k, user,
        since ms, version, result of ``_scan``) or, for a failed scan, the
        exception in place of the result."""
        from iceberg_file_writer_spark.ingest.snapshots import current_version

        p = run.params
        users = gen.Users(p["users"], p["zipf_s"])
        k = 0
        while more(k):
            version = current_version(self.table)
            if version == 0:
                time.sleep(0.02)
                continue
            user = users.draw(rng, 1)[0]
            since = int(time.time() * 1000) - p["scan_window_ms"]
            try:
                result = _scan(run, self.table, user, since, version, op(k))
            except Exception as e:
                result = e
            yield k, user, since, version, result
            k += 1

    def close(self) -> str | None:
        """Stop landing files, then the stream once it has committed every
        landed file (stopping it mid-batch aborts the batch's write); the
        error the stream terminated with, if any."""
        self.stop.set()
        self.thread.join()
        try:
            self.stream.query.processAllAvailable()
        except StreamingQueryException:
            pass  # stop() returns the query's error
        return self.stream.stop()


def setup(run: Run, round_no: int) -> None:
    """Generate every file of the run, then warm the stream, the sink and
    the scan on a table of their own: ``warm_scans`` pinned scans while
    files land at the offered rate. Scan latency falls by almost half over
    the first few hundred scans of a session, so the fixed count of warm
    scans puts the measured ones past the steepest part of that fall."""
    p = run.params
    run.steady = _file_tables(run, math.ceil(p["files_per_s"] * run.seconds) + 1, 1)
    run.drain = _file_tables(run, p["drain_files"], 2)
    warm = run.path("warm", str(round_no))
    tables = _file_tables(run, p["warm_files"], 3)
    try:
        lake = Lake(run, warm, tables, warm=True)
        try:
            for _, _, _, _, result in lake.reads(run, np.random.default_rng([run.seed, 5, round_no]),
                                                 lambda k: k < p["warm_scans"],
                                                 lambda k: f"warm{round_no}.{k}"):
                if isinstance(result, Exception):
                    raise result
        finally:
            err = lake.close()
        if err:
            raise RuntimeError(f"warm-up stream terminated: {err}")
    finally:
        shutil.rmtree(warm, ignore_errors=True)


def measure(run: Run) -> None:
    run.scans = []  # (user, since ms, version, rows, plan s, exec s, (kept, total))
    listener = None
    if run.trace:
        listener = ProgressLog()
        run.spark.streams.addListener(listener)
    lake = Lake(run, run.work, run.steady, seconds=run.seconds)
    run.table = lake.table
    run.stream_error = None
    try:
        for k, user, since, version, result in lake.reads(
                run, np.random.default_rng([run.seed, 4]), lambda k: time.time() < lake.end, int):
            run.attempted += 1
            if isinstance(result, Exception):  # a failed scan is counted, the run goes on
                run.fail([f"scan {k}: {result!r}"])
                continue
            n, plan_s, exec_s, files = result
            run.scans.append((user, since, version, n, plan_s, exec_s, files))
            run.op_s["scan"].append(plan_s + exec_s)
        lake.thread.join()
        try:
            lake.stream.query.processAllAvailable()
            drop_ms = time.time() * 1000.0
            for j, table in enumerate(run.drain):
                landed = _with_ts(table, int(drop_ms) + j)
                _land(landed, lake.stage, lake.src, f"g{j:05d}.parquet")
                lake.landed.append((int(drop_ms) + j, drop_ms, landed, True))
            lake.stream.query.processAllAvailable()
        except StreamingQueryException:
            pass  # close() returns the query's error; check() counts it
    finally:
        run.stream_error = lake.close()
        if listener is not None:
            time.sleep(0.5)  # let the listener bus deliver the last progress events
            run.spark.streams.removeListener(listener)
    run.landed = lake.landed
    run.progress = listener.progress if listener else []
    scans = run.scans
    run.metric("scans", len(scans), "count")
    run.metric("scan_ms_p50", 1000 * percentile([s[4] + s[5] for s in scans], 0.5), "ms")
    run.metric("scan_ms_p90", 1000 * percentile([s[4] + s[5] for s in scans], 0.9), "ms")
    run.metric("files_landed", len(run.landed), "count")


class ProgressLog(StreamingQueryListener):
    """Progress of every micro-batch (``recentProgress`` keeps only 100)."""

    def __init__(self):
        self.progress: list[dict] = []

    def onQueryStarted(self, event):
        pass

    def onQueryProgress(self, event):
        pr = event.progress
        self.progress.append({"rows": pr.numInputRows, "ms": dict(pr.durationMs)})

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        pass


def commit_history(table: str) -> tuple[dict[int, int], dict[int, int], list[int]]:
    """(first version holding each due time, commit ms per version, data
    files each version added), from the manifests, with the data files
    read by pyarrow."""
    from iceberg_file_writer_spark.ingest.snapshots import current_version, read_manifest

    first: dict[int, int] = {}
    commit_ms: dict[int, int] = {}
    added = []
    seen: set[str] = set()
    for v in range(1, current_version(table) + 1):
        m = read_manifest(table, v)
        commit_ms[v] = m["ts_ms"]
        new = [e for e in m["files"] if e["path"] not in seen]
        seen.update(e["path"] for e in new)
        for e in new:
            ts = pq.read_table(os.path.join(table, e["path"]), columns=[TS]).column(0)
            for due in set(ts.to_pylist()):
                first.setdefault(due, v)
        added.append(len(new))
    return first, commit_ms, added


def pinned_scan_counts(scans, dues, users, first) -> list[tuple]:
    """(label, rows the scan returned, rows it should have returned): the
    rows of ``user`` in files due at or after ``since`` whose first
    snapshot is at or before the pinned version."""
    dues = np.asarray(dues)
    versions = np.array([first.get(int(d), 0) for d in dues])
    out = []
    for i, (user, since, version, n, *_) in enumerate(scans):
        hit = np.nonzero((versions > 0) & (versions <= version) & (dues >= since))[0]
        out.append((f"{i} (v{version}, {user})", n, sum(int((users[j] == user).sum()) for j in hit)))
    return out


def check(run: Run) -> None:
    from iceberg_file_writer_spark.ingest.snapshots import current_version, read_manifest

    if run.stream_error:
        run.fail([f"stream terminated: {run.stream_error}"])
    first, commit_ms, run.files_added = commit_history(run.table)
    # every landed file is an operation: committed once, in one snapshot
    run.attempted += len(run.landed)
    dues = [d for d, _, _, _ in run.landed]
    run.fail([f"file due {d} never committed" for d in dues if d not in first])
    users = [t.column("user_id").to_numpy(zero_copy_only=False) for _, _, t, _ in run.landed]
    run.fail(checks.check_counts(pinned_scan_counts(run.scans, dues, users, first), "pinned scan"))
    version = current_version(run.table)
    files = read_manifest(run.table, version)["files"] if version else []
    want = pa.concat_tables(t for _, _, t, _ in run.landed)
    got = pa.concat_tables([pq.read_table(os.path.join(run.table, e["path"])) for e in files]
                           or [want.schema.empty_table()])
    run.fail(checks.check_same_rows(got, want, "streamed table after drain"))

    steady = [(d, landed, first[d]) for d, landed, _, drain in run.landed if not drain and d in first]
    fresh = [commit_ms[v] - d for d, _, v in steady]
    run.metric("freshness_ms_p50", percentile(fresh, 0.5), "ms")
    run.metric("freshness_ms_p90", percentile(fresh, 0.9), "ms")
    # drain: from the drop to the commit of the last dropped file's rows
    drained = [(landed, commit_ms[first[d]], t.num_rows)
               for d, landed, t, drain in run.landed if drain and d in first]
    drain_s = (max(c for _, c, _ in drained) - drained[0][0]) / 1000.0 if drained else 0.0
    run.metric("stream_drain_rows_per_s",
               sum(n for _, _, n in drained) / drain_s if drain_s > 0 else 0.0, "rows/s")
    run.metric("commits", len(commit_ms), "count")
    # backlog: files landed but not yet committed, steady phase only
    events = sorted([(landed, 1) for _, landed, _ in steady] + [(commit_ms[v], -1) for _, _, v in steady])
    backlog = peak = 0
    for _, step in events:
        backlog += step
        peak = max(peak, backlog)
    run.backlog_max = peak
    run.late_ms_max = max((landed - d for d, landed, _, drain in run.landed if not drain), default=0.0)
    run.metric("generator_late_ms_max", run.late_ms_max, "ms")


def layers(run: Run) -> None:
    from iceberg_file_writer_spark.ingest.file_skipping import prune_files
    from iceberg_file_writer_spark.ingest.snapshots import read_manifest

    log = EventLog(find_event_log(run.path("eventlog")))
    data = [pr for pr in run.progress if pr["rows"] > 0]

    def p50(key):
        return percentile([pr["ms"].get(key, 0) for pr in data], 0.5)

    run.layers.update(
        {
            "ingest.streaming.batches": len(data),
            "ingest.streaming.rows_per_batch_p50": percentile([pr["rows"] for pr in data], 0.5),
            "ingest.streaming.trigger_ms_p50": p50("triggerExecution"),
            "ingest.streaming.add_batch_ms_p50": p50("addBatch"),
            "ingest.streaming.wal_commit_ms_p50": p50("walCommit"),
            "ingest.streaming.commit_offsets_ms_p50": p50("commitOffsets"),
            "ingest.streaming.latest_offset_ms_p50": p50("latestOffset"),
            "ingest.streaming.query_planning_ms_p50": p50("queryPlanning"),
            "ingest.streaming.backlog_files_max": run.backlog_max,
            "ingest.streaming.generator_late_ms_max": run.late_ms_max,
        }
    )
    sinks = span_split(run.tracer, log, "ingest.snapshots.sink")
    n = max(len(run.files_added), 1)
    run.layers.update(
        {
            "ingest.snapshots.files_per_commit": sum(run.files_added) / n,
            "ingest.snapshots.manifest_bytes_per_commit": metadata_bytes(run.table) / n,
            "ingest.snapshots.sink_ms_p50": 1000 * percentile([w for w, _, _ in sinks], 0.5),
            "ingest.snapshots.sink_driver_ms_p50": 1000 * percentile([w - c for w, c, _ in sinks], 0.5),
            "ingest.snapshots.commits": len(run.files_added),
            "ingest.snapshots.commit_conflicts": 0 if not run.stream_error
            else int("CommitConflict" in run.stream_error),
        }
    )
    kept = total = returned = read = 0
    for user, since, version, n_rows, _, _, (k, t) in run.scans:
        kept += k
        total += t
        returned += n_rows
        files = prune_files(read_manifest(run.table, version)["files"],
                            [("user_id", "=", user), (TS, ">=", since)])
        read += sum(e["rows"] for e in files)
    scans = run.scans
    run.layers.update(
        {
            "ingest.file_skipping.plan_ms_p50": 1000 * percentile([s[4] for s in scans], 0.5),
            "ingest.file_skipping.exec_ms_p50": 1000 * percentile([s[5] for s in scans], 0.5),
            "ingest.file_skipping.files_kept_ratio": kept / total if total else 0.0,
            "ingest.file_skipping.files_total_max": max((s[6][1] for s in scans), default=0),
            "ingest.file_skipping.rows_returned_per_row_read": returned / read if read else 0.0,
        }
    )
