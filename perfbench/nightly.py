"""``nightly_incremental``: the 02:00 ``--query all --length 2wk`` job.

Each night one new day of source rows arrives and a seeded share of
rows already inside the trailing 14-day window carries revised
measures. ``clock_in_out`` runs the steps ``runner.run_one`` runs
(``build_plan`` with a trailing-14-day slicer and the audit column,
``ParquetKeyedTable.upsert`` with the change feed on, then
``sync.sync_to_rest``); ``daily_sales_full`` takes the maintained-rollup
path (landing-table upsert, ``maintain_pipeline_rollup``, then
``sync_to_rest`` with ``finish_plan``). Set-up bootstraps the landing
table, the rollup and the sink with the history before the first night
through the same calls and runs one untimed warm-up night, so no timed
night pays for JIT warm-up of the 47-measure plans. clock_in_out gets no
history load, to keep a cold load out of each run's time budget: its
target starts with the warm-up night's 14-day window. The timed phase
runs nights until ``--seconds`` have passed, at least one; ``run_s`` is
the median night (a night takes about ten seconds, so at five seconds
that is one night). After each night, outside its timing, every target's
window is compared with a from-scratch ``build_plan`` and the sink with
the target; each pipeline-night is one operation.

The other nightly pipelines (daily_sales, sales_channel, offers,
inventory) repeat the clock_in_out steps on other sources; each adds
about 3 s per night at this scale, which one run's time budget cannot
hold.
"""

from __future__ import annotations

import datetime as dt
import os
import statistics
from collections import Counter

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

from perfbench import fixture
from perfbench.common import PIPELINES_YAML, commit_counts, diff_example, sink_factory, sink_form

SF = 0.01
PIPELINES = ("clock_in_out",)
FULL = "daily_sales_full"
WINDOW_DAYS = 14
HISTORY_DAYS = 28
#: share of source rows whose measures are revised inside the window: an
#: assumed rate, no measured production revision rate is recorded
REVISED_SHARE = 0.03
MIN_NIGHTS = 1
MAX_NIGHTS = 6
#: source table -> (date column, revised measure, revision date column,
#: night 0); events cover January 2024 only, the sales nights sit in the
#: dense middle of 1995-2001 (shifted by the seed)
_SOURCES = {
    "lineitem": ("l_shipdate", "l_extendedprice", "l_revdate", dt.date(1998, 1, 1)),
    "events": ("ts", "value", "e_revdate", dt.date(2024, 1, 16)),
}


def write_inputs(out_dir: str, seed: int) -> None:
    """The fixture tables the pipelines read, plus per-row revision
    dates (1-14 days after the row's date, for a seeded share of rows)
    and a row id on lineitem for the landing table's key."""
    rng = np.random.default_rng([seed, 99])
    os.makedirs(out_dir, exist_ok=True)
    for name, (date_col, _measure, rev_col, _night0) in _SOURCES.items():
        t = fixture.table(name, SF, seed)
        n = t.num_rows
        days = np.where(rng.random(n) < REVISED_SHARE, rng.integers(1, WINDOW_DAYS + 1, n), 0)
        day0 = pc.cast(pc.floor_temporal(t[date_col], unit="day"), pa.timestamp("us"))
        offs = pa.array(days.astype("timedelta64[D]").astype("timedelta64[us]"))
        rev = pc.if_else(pa.array(days > 0), pc.add(day0, offs), pa.scalar(None, pa.timestamp("us")))
        t = t.append_column(rev_col, rev)
        if name == "lineitem":
            t = t.append_column("l_rowid", pa.array(np.arange(n, dtype=np.int64)))
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"))


def _rows(records, lo: str | None = None) -> Counter:
    """Records without the audit column as a multiset, limited to
    ``calendar_date >= lo`` (the trailing window) when given."""
    out = Counter()
    for r in records:
        d = r.asDict()
        d.pop("last_refreshed", None)
        if lo is None or d["calendar_date"] >= lo:
            out[tuple(sorted(d.items()))] += 1
    return out


class Nightly:
    name = "nightly_incremental"

    def __init__(self, spark, run, tracer, sink, seed: int, fault: str | None = None):
        from bw_new_data_integration_spark.plans import pipeline as plans

        self.spark, self.run, self.tracer, self.sink, self.seed = spark, run, tracer, sink, seed
        self.fault = fault
        self.specs = plans.load_pipelines(PIPELINES_YAML)
        self.inputs = run.sub("inputs")
        self.night_s: list[float] = []
        self.attempted = 0
        self.failures: dict[tuple[int, str], str] = {}  # (night, pipeline) -> why

    # -- inputs -------------------------------------------------------------

    def _day(self, spec, i: int) -> dt.date:
        """Night ``i``'s date in the calendar of the spec's source."""
        night0 = _SOURCES[spec.source_table][3]
        shift = self.seed % 365 if spec.source_table == "lineitem" else 0
        return night0 + dt.timedelta(days=shift + i)

    def _source(self, spec, i: int):
        """The source as of night ``i``: rows up to the night's day,
        revised measures applied from their revision date on."""
        from pyspark.sql import functions as F

        from bw_new_data_integration_spark import catalog

        date_col, measure, rev_col, _ = _SOURCES[spec.source_table]
        end = F.lit(str(self._day(spec, i) + dt.timedelta(days=1))).cast("timestamp")
        revised = F.col(rev_col).isNotNull() & (F.col(rev_col) < end)
        return (
            catalog.load(self.spark, self.inputs, spec.source_table)
            .where(F.col(date_col) < end)
            .withColumn(measure, F.when(revised, F.round(F.col(measure) * 1.05, 2)).otherwise(F.col(measure)))
        )

    def _plan(self, name: str, i: int):
        """``build_plan`` of night ``i`` with the trailing-window slicer."""
        from pyspark.sql import functions as F

        from bw_new_data_integration_spark.plans import pipeline as plans
        from bw_new_data_integration_spark.plans import slicers

        spec = self.specs[name]
        anchor = F.lit(str(self._day(spec, i))).cast("date")
        slicer = slicers.trailing_days(spec.slicer_column, WINDOW_DAYS, anchor=anchor)
        return plans.build_plan(self._source(spec, i), spec, slicer=slicer, audit_ts=True)

    # -- tables -------------------------------------------------------------

    def _target(self, name: str):
        from bw_new_data_integration_spark.sources.parquet_target import ParquetKeyedTable

        m = self.specs[name].mapping
        return ParquetKeyedTable(self.run.sub("targets", m.table), [m.alternate_key], change_feed=True)

    def _landing(self):
        from bw_new_data_integration_spark.sources.parquet_target import ParquetKeyedTable

        return ParquetKeyedTable(self.run.sub("targets", "landing_lineitem"), ["l_rowid"], change_feed=True)

    def _rollup(self):
        from bw_new_data_integration_spark.sources.parquet_target import ParquetKeyedTable

        return ParquetKeyedTable(self.run.sub("targets", "rollup_daily_sales_full"), ["store_number", "calendar_date"])

    def _finish_full(self, df):
        """Rollup rows -> sink records: derive AVG/ratio measures, then
        the pipeline's post-aggregate stages."""
        from bw_new_data_integration_spark.operators.matview import finish_rollup
        from bw_new_data_integration_spark.plans.pipeline import finish_plan

        spec = self.specs[FULL]
        ms = spec.aggregate.measures
        avgs = {n: m["expr"] for n, m in ms.items() if m.get("agg") == "avg"}
        ratios = {n: (m["num"], m["den"]) for n, m in ms.items() if m.get("agg") == "ratio"}
        return finish_plan(finish_rollup(df, avgs, ratios), spec)

    # -- one night ----------------------------------------------------------

    def _sync(self, table, mapping, finish=None) -> dict:
        from bw_new_data_integration_spark.sources import sync

        with self.tracer.span("sync") as s:
            stats = sync.sync_to_rest(
                self.spark, table,
                sink_factory(self.sink.url, mapping.table, mapping.alternate_key),
                mapping.alternate_key, app="nightly", finish=finish,
            )
            s.counts.update(
                rows_upserted=stats.get("upserted", 0), rows_deleted=stats.get("deleted", 0),
                batches=stats.get("sink_batches", 0), errors=stats.get("errors", 0),
            )
        return stats

    def _run_pipeline(self, name: str, i: int) -> dict:
        t = self.tracer
        target = self._target(name)
        with t.span("plans.build"):
            df = self._plan(name, i)
        with t.span("parquet_target.upsert") as s:
            v = target.upsert(self.spark, df)
        s.counts.update(commit_counts(target, v))
        return self._sync(target, self.specs[name].mapping)

    def _run_full(self, i: int, bootstrap: bool) -> dict:
        from pyspark.sql import functions as F

        from bw_new_data_integration_spark.plans.matview_pipeline import (
            maintain_pipeline_rollup,
            staging_frame,
        )

        t = self.tracer
        spec = self.specs[FULL]
        landing = self._landing()
        day = self._day(spec, i)
        with t.span("plans.build"):
            src = self._source(spec, i)
            if bootstrap:
                lo = F.lit(str(day - dt.timedelta(days=HISTORY_DAYS))).cast("timestamp")
                rows = src.where(F.col("l_shipdate") >= lo)
            else:  # the night's new day plus tonight's revisions
                ts = F.lit(str(day)).cast("timestamp")
                rows = src.where((F.col("l_shipdate") >= ts) | (F.col("l_revdate") == ts))
            staged = staging_frame(rows, spec)
        with t.span("parquet_target.upsert") as s:
            v = landing.upsert(self.spark, staged)
        s.counts.update(commit_counts(landing, v))
        with t.span("matview.maintain"):
            maintain_pipeline_rollup(self.spark, spec, landing, self._rollup())
        return self._sync(self._rollup(), spec.mapping, finish=self._finish_full)

    def _night(self, i: int, bootstrap: bool = False) -> dict[str, dict]:
        out = {}
        for name in () if bootstrap else PIPELINES:
            with self.tracer.span(f"pipeline.{name}"):
                out[name] = self._run_pipeline(name, i)
        with self.tracer.span(f"pipeline.{FULL}"):
            out[FULL] = self._run_full(i, bootstrap)
        return out

    # -- phases -------------------------------------------------------------

    def setup(self) -> None:
        t = self.tracer
        with t.span("setup.inputs"):
            write_inputs(self.inputs, self.seed)
        # night -1 loads daily_sales_full's history; night 0 warms up
        with t.span("setup.bootstrap"):
            self._night(-1, bootstrap=True)
        with t.span("setup.warmup"):
            self._night(0)

    def timed(self, seconds: float) -> None:
        if self.fault == "sink_drop_batch":
            self.sink.drop_next = self.specs[FULL].mapping.table
        i = 1
        while i <= MAX_NIGHTS and (i <= MIN_NIGHTS or sum(self.night_s) < seconds):
            with self.tracer.span("night") as s:
                stats = self._night(i)
            self.night_s.append(s.wall)
            self.check_night(i, stats)
            i += 1

    def check_night(self, i: int, stats: dict) -> None:
        """After night ``i``, outside its span: each target's trailing
        window equals a from-scratch ``build_plan`` over the night's
        inputs, and the sink equals the target record for record."""
        for name in (*PIPELINES, FULL):
            self.attempted += 1
            spec = self.specs[name]
            if name == FULL:
                current = self._finish_full(self._rollup().read(self.spark)).collect()
            else:
                current = self._target(name).read(self.spark).collect()
            lo = str(self._day(spec, i) - dt.timedelta(days=WINDOW_DAYS))
            if _rows(current, lo) != _rows(self._plan(name, i).collect()):
                self.failures[(i, name)] = "window differs from a from-scratch build_plan"
                continue
            key, table = spec.mapping.alternate_key, spec.mapping.table
            want, got = sink_form(current, key), self.sink.snapshot(table)
            if stats[name].get("errors") or want != got:
                self.failures[(i, name)] = "sink differs from target: " + diff_example(want, got)

    def check(self) -> None:
        pass  # each night is checked right after it

    def timed_wall_s(self) -> float:
        return sum(self.night_s)

    def metrics(self) -> dict:
        return {"run_s": statistics.median(self.night_s)}

    def fake_counters(self) -> dict:
        return {}

    def correct(self) -> bool:
        """Every pipeline-night was checked; a mismatch is a failed op."""
        return self.attempted == len(self.night_s) * (len(PIPELINES) + 1) > 0

    def close(self) -> None:
        pass
