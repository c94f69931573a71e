"""Run one workload: set-up, timed phase, output checks, metrics.

A workload class takes ``(spark, run_dir, tracer, sink, seed, fault)``
and provides ``setup()``, ``timed(seconds)``, ``check()``,
``metrics()`` (its end-to-end timing), ``timed_wall_s()``,
``fake_counters()``, ``correct()``, ``close()`` and the ``attempted``
count and ``failures`` map of its operations.
"""

from __future__ import annotations

import contextlib
import time

from perfbench.common import CPUS, RunDir, start_spark, stop_spark
from perfbench.fakes import FakeSink
from perfbench.trace import PssSampler, Tracer, self_times, spark_counts

WORKLOADS = ("nightly_incremental", "weekly_full_refresh", "query_mix")

#: per-layer metric -> (span name, field); ``wall`` sums span walls,
#: other fields come from the span's Spark counters or its own counts
SPAN_METRICS = {
    "plans.build_s": ("plans.build", "wall"),
    "xmla.fetch_s": ("xmla.fetch", "wall"),
    "parquet_target.upsert_s": ("parquet_target.upsert", "wall"),
    "parquet_target.upsert_jobs": ("parquet_target.upsert", "jobs"),
    "parquet_target.upsert_tasks": ("parquet_target.upsert", "tasks"),
    "parquet_target.upsert_driver_gap_s": ("parquet_target.upsert", "driver_gap_s"),
    "parquet_target.files_written": ("parquet_target.upsert", "files_written"),
    "parquet_target.files_linked": ("parquet_target.upsert", "files_linked"),
    "parquet_target.bytes_written": ("parquet_target.upsert", "bytes_written"),
    "parquet_target.delete_s": ("parquet_target.delete", "wall"),
    "parquet_target.read_s": ("parquet_target.read", "wall"),
    "parquet_target.read_files_scanned": ("parquet_target.read", "files_scanned"),
    "parquet_target.read_files_total": ("parquet_target.read", "files_total"),
    "matview.maintain_s": ("matview.maintain", "wall"),
    "matview.maintain_jobs": ("matview.maintain", "jobs"),
    "matview.maintain_driver_gap_s": ("matview.maintain", "driver_gap_s"),
    "matview.serve_s": ("matview.serve", "wall"),
    "sync.s": ("sync", "wall"),
    "sync.jobs": ("sync", "jobs"),
    "sync.rows_upserted": ("sync", "rows_upserted"),
    "sync.rows_deleted": ("sync", "rows_deleted"),
    "sync.batches": ("sync", "batches"),
    "sync.errors": ("sync", "errors"),
    "queries.s": ("query", "wall"),
    "queries.jobs": ("query", "jobs"),
    "queries.tasks": ("query", "tasks"),
    "queries.shuffle_bytes": ("query", "shuffle_bytes"),
}
#: counters of the fakes over the timed phase
FAKE_METRICS = (
    "sink.requests", "sink.request_bytes", "sink.busy_s",
    "xmla.requests", "xmla.response_bytes", "xmla.cells", "cube.busy_s",
)
SETUP_METRICS = ("session.start_s", "setup.inputs_s", "setup.bootstrap_s", "setup.warmup_s")
SPARK_METRICS = (
    "spark.jobs", "spark.stages", "spark.tasks", "spark.executor_cpu_s", "spark.gc_s", "spark.spill_bytes",
)
PER_LAYER = (*SETUP_METRICS, *SPAN_METRICS, "sync.empty_s", *FAKE_METRICS, *SPARK_METRICS)

#: counts that must repeat exactly between two traced runs of one seed
DETERMINISTIC = (
    "spark.jobs", "spark.stages", "spark.tasks", "parquet_target.upsert_jobs",
    "parquet_target.upsert_tasks", "parquet_target.files_written", "matview.maintain_jobs",
    "sync.jobs", "sync.rows_upserted", "sync.rows_deleted", "sync.batches", "sink.requests",
    "xmla.requests", "xmla.cells", "queries.jobs", "queries.tasks",
)


def _workloads():
    from perfbench.nightly import Nightly
    from perfbench.querymix import QueryMix
    from perfbench.weekly import Weekly

    return {w.name: w for w in (Nightly, Weekly, QueryMix)}


def unit(name: str) -> str:
    if name.endswith("_mb"):
        return "MB"
    if name.endswith(("_bytes", "bytes_written")):
        return "bytes"
    if name.endswith("_s") or name == "sync.s" or name == "queries.s":
        return "s"
    return "count"


def per_layer(jobs: dict, timed: list, setup: dict, fakes: dict) -> tuple[dict, dict]:
    """Per-layer metrics of the timed phase (``timed``: its spans,
    ``jobs``: their harvested Spark jobs) and the sidecar detail: self
    times by span name, per-span counters and the spans' coverage of the
    timed wall."""
    offset = time.time() - time.perf_counter()
    counts = {id(s): spark_counts(s, jobs, offset) for s in timed}
    m: dict[str, float] = {name: 0 for name in PER_LAYER}
    for metric, (span, field) in SPAN_METRICS.items():
        for s in timed:
            if s.name == span:
                m[metric] += s.wall if field == "wall" else counts[id(s)].get(field, s.counts.get(field, 0))
    m["sync.empty_s"] = sum(
        s.wall for s in timed
        if s.name == "sync" and not (s.counts.get("rows_upserted") or s.counts.get("rows_deleted"))
    )
    roots = [s for s in timed if s.parent is None]
    run_jobs = [jobs[j] for r in roots for j in range(r.job_lo, r.job_hi) if j in jobs]
    m["spark.jobs"] = len(run_jobs)
    m["spark.stages"] = sum(r["stages"] for r in run_jobs)
    m["spark.tasks"] = sum(r["tasks"] for r in run_jobs)
    m["spark.executor_cpu_s"] = sum(r["cpu_s"] for r in run_jobs)
    m["spark.gc_s"] = sum(r["gc_s"] for r in run_jobs)
    m["spark.spill_bytes"] = sum(r["spill_bytes"] for r in run_jobs)
    m.update(fakes)
    m.update(setup)
    timed_wall = sum(r.wall for r in roots)
    selfs = self_times(timed)
    root_self = sum(selfs.get(n, 0.0) for n in {r.name for r in roots})
    detail = {
        "coverage": 1.0 - root_self / timed_wall if timed_wall else None,
        "self_s": selfs,
        "spans": [
            {"name": s.name, "parent": s.parent, "run_id": s.run_id, "start": s.start, "end": s.end,
             **s.counts, **counts[id(s)]}
            for s in timed
        ],
    }
    return m, detail


def _fake_counters(sink: FakeSink, wl) -> dict:
    return {**{f"sink.{k}": v for k, v in sink.counters().items()}, **wl.fake_counters()}


def run(args, t0: float, runs_dir: str) -> tuple[dict, dict]:
    """One run: returns the stdout result and the sidecar detail."""
    cls = _workloads()[args.workload]
    with RunDir(runs_dir) as rd, PssSampler() as pss, contextlib.ExitStack() as stack:
        # callbacks run in reverse and all run: the workload and the sink
        # close, then the JVM and its workers end, before the run
        # directory is removed
        stack.callback(stop_spark)
        tracer = Tracer(bool(args.trace))
        with tracer.span("session.start"):
            spark = start_spark(rd)
            spark.range(1).count()
        tracer.attach(spark)
        sink = FakeSink(int(CPUS))
        stack.callback(sink.close)
        wl = cls(spark, rd, tracer, sink, args.seed, fault=args.fault)
        stack.callback(wl.close)
        wl.setup()
        setup_s = time.perf_counter() - t0
        n_setup = len(tracer.spans)
        before = _fake_counters(sink, wl)
        wl.timed(args.seconds)
        after = _fake_counters(sink, wl)
        jobs = tracer.harvest(tracer.spans[n_setup:])
        wl.check()
    detail = {"timed_wall_s": wl.timed_wall_s(), "setup_s": setup_s}
    if args.trace:
        setup = {f"{s.name}_s": s.wall for s in tracer.spans[:n_setup] if s.parent is None}
        fakes = {k: after[k] - before[k] for k in FAKE_METRICS if k in after}
        metrics, more = per_layer(jobs, tracer.spans[n_setup:], setup, fakes)
        detail.update(more, metrics=metrics)
    else:
        metrics = {**wl.metrics(), "setup_s": setup_s, "peak_pss_mb": pss.peak_mb}
    detail["failures"] = [f"{k}: {v}" for k, v in sorted(wl.failures.items(), key=str)]
    result = {
        "correct": wl.correct(),
        "attempted": wl.attempted,
        "failed": len(wl.failures),
        "metrics": {k: {"value": v, "unit": unit(k)} for k, v in sorted(metrics.items())},
    }
    return result, detail
