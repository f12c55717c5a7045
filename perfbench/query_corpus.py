"""query_corpus: the ``queries.driver_queries()`` surface.

A fixed subset of ``queries.driver_queries()`` (config ``entries``, one per
driver-surface module) over a seeded corpus at scale ``sf``. Each entry is
timed as ``fn(spark, sf_dir)`` (plan-build, including any eager work) plus
a noop-sink write (execution), with ``clearCache()`` between entries. One
full warm pass runs after set-up and is the pass whose results are checked
against the DuckDB oracle (rows > 0 where an entry has no oracle). The
timed operation is one entry call: entries are called in turn while the
``--seconds`` window is open, and until each has been timed once. An
entry's latency is the median of its calls; ``op_ms_p50`` is their
geometric mean and ``corpus_total_s`` their sum (one pass over the
corpus), so the figures do not depend on where in the order the window
ends.

Eager lifecycle work: the ``storage_ext`` entry writes its table once per
(application, corpus dir) and memoizes it, so only the warm pass pays that
work; warm-pass build times are reported per module as
``queries.<module>.first_build_s``. The ``streaming_ops`` entry is
``multimodal_header_parse``, which starts no stream: the entries that run
a stream on every call take ~3 s a call, which the run's time budget does
not allow twice per run.
"""

from __future__ import annotations

import statistics
import time
from collections import defaultdict

import numpy as np

from oracle_utils import register_views

from perfbench import checks, gen
from perfbench.run import Run, geomean
from perfbench.tracing import EventLog, GroupStats, find_event_log, layer_counters, union_length

MODULES = (
    "dedup", "analytics_ext", "similarity", "evaluation_ext", "events", "text",
    "pipeline_ext", "relational", "relational_ext", "search_ext", "storage_ext",
    "streaming_ops",
)


def setup(run: Run, round_no: int) -> None:
    """Generate the corpus into a fresh dir and load it (``load_tables``
    memoizes per dir, so every round pays the load)."""
    from iceberg_file_writer_spark.tables import load_tables

    run.sf_dir = run.path(f"sf{round_no}")
    gen.write_corpus(np.random.default_rng([run.seed, 5]), run.params["sf"], run.sf_dir)
    load_tables(run.spark, run.sf_dir)["lineitem"].count()


def _time_entry(run: Run, query, op, collect: bool = False):
    """(build s, exec s, rows if ``collect``). Execution is a noop-sink
    write, or a collect when the rows are needed for checking."""
    spark, tracer = run.spark, run.tracer
    spark.catalog.clearCache()
    rows = None
    with tracer.span("queries", op, tag=True):
        t0 = time.perf_counter()
        with tracer.span("queries.build", op):
            df = query.fn(spark, run.sf_dir)
        t1 = time.perf_counter()
        with tracer.span("queries.exec", op):
            if collect:
                rows = [tuple(r) for r in df.collect()]
            else:
                df.write.format("noop").mode("overwrite").save()
        t2 = time.perf_counter()
    return t1 - t0, t2 - t1, (df.columns, rows)


def _warm_pass(run: Run, queries: dict) -> None:
    """One untimed-for-the-contract pass; its outputs are checked."""
    import duckdb

    con = duckdb.connect()
    register_views(con, run.sf_dir)
    run.first_build = {}  # entry -> build s of its first call in the session
    t0 = time.perf_counter()
    for name, q in queries.items():
        run.attempted += 1
        try:
            build_s, _, (columns, rows) = _time_entry(run, q, f"warm.{name}", collect=True)
        except Exception as e:  # a failed entry is counted, the run goes on
            run.fail([f"{name}: {e!r}"])
            continue
        run.first_build[name] = build_s
        if q.oracle is None:
            if not rows:
                run.fail([f"{name}: no rows"])
            continue
        rel = con.sql(q.oracle)
        run.fail(checks.check_oracle(name, columns, rows, rel.columns, rel.fetchall()))
    con.close()
    run.metric("warm_pass_s", time.perf_counter() - t0, "s")


def measure(run: Run) -> None:
    from iceberg_file_writer_spark.queries import driver_queries

    surface = driver_queries()
    missing = [n for n in run.params["entries"] if n not in surface]
    run.fail([f"{n}: not in driver_queries()" for n in missing])
    queries = {n: surface[n] for n in run.params["entries"] if n in surface}
    run.modules = {n: q.fn.__module__.rsplit(".", 1)[-1] for n, q in queries.items()}
    _warm_pass(run, queries)
    run.samples = defaultdict(list)  # entry -> [(build s, exec s, op id)]
    names = list(queries)
    deadline = time.perf_counter() + run.seconds
    op = 0
    # entries in turn, until every entry has been timed and the window is over
    while op < len(names) or time.perf_counter() < deadline:
        name = names[op % len(names)]
        run.attempted += 1
        try:
            build_s, exec_s, _ = _time_entry(run, queries[name], op)
        except Exception as e:  # a failed entry is counted, the run goes on
            run.fail([f"{name} call {op}: {e!r}"])
        else:
            run.samples[name].append((build_s, exec_s, op))
            run.op_s[name].append(build_s + exec_s)
        op += 1
    run.calls = op
    per_entry = [statistics.median(b + e for b, e, _ in s) for s in run.samples.values()]
    for name, t in zip(run.samples, per_entry):
        run.metric(f"entry.{name}_ms", 1000 * t, "ms")
    run.metric("calls", op, "count")
    run.metric("entries", len(queries), "count")
    run.metric("corpus_total_s", sum(per_entry), "s")
    run.metric("corpus_geomean_s", geomean(per_entry), "s")


def check(run: Run) -> None:
    """Outputs are checked on the warm pass (see ``_warm_pass``)."""


def layers(run: Run) -> None:
    """Per-module times are sums of entry medians (first builds: of the
    warm pass); counters are per pass (timed calls / entries). Jobs of a
    streaming query an entry starts run under the query's own job group, so
    their executor counters are not in the entry's, and their time counts as
    driver time."""
    log = EventLog(find_event_log(run.path("eventlog")))
    spans = {s["op"]: s for s in run.tracer.closed() if s["name"] == "queries"}
    per_pass = max(run.calls / max(len(run.modules), 1), 1.0)
    build = dict.fromkeys(MODULES, 0.0)
    first_build = dict.fromkeys(MODULES, 0.0)
    for name, build_s in run.first_build.items():
        first_build[run.modules[name]] += build_s
    execute = dict.fromkeys(MODULES, 0.0)
    totals = GroupStats()
    wall = driver = 0.0
    low_busy = 0
    for name, samples in run.samples.items():
        module = run.modules[name]
        build[module] = build.get(module, 0.0) + statistics.median(b for b, _, _ in samples)
        execute[module] = execute.get(module, 0.0) + statistics.median(e for _, e, _ in samples)
        busy = []
        for _, _, op in samples:
            s = spans[op]
            g = log.group(f"queries#{op}")
            totals.add(g)
            w = s["end"] - s["start"]
            wall += w
            driver += w - union_length(g.job_intervals, s["start"], s["end"])
            busy.append((g.run_ms / 1000.0) / (w * run.cores))
        if statistics.median(busy) < 0.25:
            low_busy += 1
    for m in MODULES:
        run.layers[f"queries.{m}.build_s"] = build[m]
        run.layers[f"queries.{m}.first_build_s"] = first_build[m]
        run.layers[f"queries.{m}.exec_s"] = execute[m]
    counters = layer_counters("queries", totals, wall, run.cores)
    for key in ("executor_run_s", "executor_cpu_s", "gc_s", "shuffle_bytes", "tasks", "jobs",
                "sched_delay_s"):
        run.layers[f"queries.{key}"] = counters[f"queries.{key}"] / per_pass
    run.layers["queries.driver_s"] = driver / per_pass
    run.layers["queries.executor_busy"] = counters["queries.executor_busy"]
    run.layers["queries.low_busy_entries"] = low_busy
