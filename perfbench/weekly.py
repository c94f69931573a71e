"""``weekly_full_refresh``: the Sunday full sync from the cube.

A benchmark-owned pipeline spec maps a Store x Date cube with the 47
``daily_sales_full`` measures (as cube captions) onto
``mappings/daily_sales_full.yaml``. Each week the fake cube serves one
pre-rendered ``xmla.render_mddataset`` response per 13-4 fiscal period
of one fiscal year (13 periods, each 12 stores x 28 days x 47 measures;
the production fleet has 45 stores, which one run's time budget cannot
hold). From one week to the next a seeded share of cells changes and one
more store closes, so the cube no longer returns its keys.

Set-up runs week 0 through the same steps as a timed week: it loads the
target and the sink with the starting state and leaves every step warm
except the merge into an existing table. Each timed week runs
``runner.run_one`` with ``from_cube`` and ``backfill_years`` against the
fake cube, deletes the target keys the cube no longer returns, then
pushes the net changes with ``sync_to_rest`` over the ``$batch`` wire.
Weeks run until ``--seconds`` have passed (at least one; at five
seconds that is one week); ``run_s`` is the median week. In a traced run
the fetched frame is materialized before the upsert, so the XMLA fetch
is its own span.
"""

from __future__ import annotations

import argparse
import dataclasses
import datetime as dt
import os
import statistics

import numpy as np

from perfbench.common import CPUS, commit_counts, sink_factory, sink_form

FISCAL_YEAR = 2025
PERIODS = 13
STORES = 12
DAYS = 28
WEEKS = 3  # week 0 is the starting state, weeks 1.. are timed
#: share of cells that change from one week to the next: an assumed
#: rate, no measured production churn is recorded
CHANGED_SHARE = 0.02
CUBE_USER = "perfbench"
CUBE_PASSWORD_ENV = "PERFBENCH_CUBE_PASSWORD"

_MDX = """SELECT NON EMPTY { ${measures} } ON COLUMNS,
       NON EMPTY { [Store].[Store].[Store].MEMBERS * [Date].[Date].[Date].MEMBERS } ON ROWS
FROM [Sales]
WHERE ( ${slicer} )"""


def _caption(field: str) -> str:
    return "[Measures].[" + field.replace("_", " ").title() + "]"


def cube_spec():
    """The weekly pipeline: cube-sourced, no aggregate block, mapping
    reused from ``pipelines/mappings/daily_sales_full.yaml``."""
    from bw_new_data_integration_spark.plans import pipeline as plans

    mapping = plans.load_mapping("pipelines/mappings/daily_sales_full.yaml")
    measures = [m.source for m in mapping.measures]
    return plans.PipelineSpec(
        name="weekly_daily_sales_full",
        source_table="cube",
        mapping=mapping,
        fy_start=(2, 1),
        mdx=plans.render_mdx_template(_MDX, {"measures": ", ".join(_caption(f) for f in measures)}),
        catalog="Sales",
        hierarchies=({"pattern": "Store", "field": "store_number"}, {"pattern": "Date", "field": "calendar_date"}),
        cube_measures=tuple((_caption(f), f) for f in measures),
    )


def _period_days(p: int) -> list[str]:
    start = dt.date(FISCAL_YEAR - 1, 2, 1) + dt.timedelta(days=DAYS * (p - 1))
    return [str(start + dt.timedelta(days=d)) for d in range(DAYS)]


class CubeData:
    """Every week's cube cells, from the seed. Week ``w`` returns the
    first ``STORES + WEEKS - w`` stores: one more closes each week."""

    def __init__(self, spec, seed: int):
        rng = np.random.default_rng([seed, 7])
        self.fields = [m.source for m in spec.mapping.measures]
        is_int = np.array([m.type == "int" for m in spec.mapping.measures])
        self.stores = [str(1001 + s) for s in range(STORES + WEEKS)]
        shape = (PERIODS, len(self.stores), DAYS, len(self.fields))
        raw = rng.gamma(2.0, 500.0, shape)
        week = np.where(is_int, np.floor(raw / 50.0), np.round(raw, 2))
        self.values = [week]
        for _ in range(WEEKS):
            changed = rng.random(shape) < CHANGED_SHARE
            week = np.where(changed, np.where(is_int, week + 1, np.round(week * 1.03, 2)), week)
            self.values.append(week)

    def n_stores(self, w: int) -> int:
        return STORES + WEEKS - w

    def responses(self, w: int) -> dict[tuple[int, int], bytes]:
        from bw_new_data_integration_spark.sources import xmla

        n = self.n_stores(w)
        out = {}
        for p in range(1, PERIODS + 1):
            days = _period_days(p)
            rows = [[("[Store].[Store]", self.stores[s]), ("[Date].[Date]", d)] for s in range(n) for d in days]
            cells = self.values[w][p - 1, :n].reshape(n * DAYS, -1).tolist()
            out[(FISCAL_YEAR, p)] = xmla.render_mddataset(
                [_caption(f) for f in self.fields], rows, cells
            ).encode()
        return out

    def vanished_keys(self, w: int) -> set[str]:
        """Business keys of the store that closed in week ``w``."""
        closed = self.stores[self.n_stores(w)]
        return {f"{closed}_{d.replace('-', '')}" for p in range(1, PERIODS + 1) for d in _period_days(p)}

    def frame(self, w: int):
        """Week ``w``'s cube rows: store_number, calendar_date, measures."""
        import pandas as pd

        n = self.n_stores(w)
        vals = self.values[w][:, :n]
        data = {
            "store_number": np.tile(np.repeat(self.stores[:n], DAYS), PERIODS),
            "calendar_date": np.concatenate([np.tile(_period_days(p), n) for p in range(1, PERIODS + 1)]),
        }
        flat = vals.reshape(-1, len(self.fields))
        for j, f in enumerate(self.fields):
            data[f] = flat[:, j]
        return pd.DataFrame(data)


class Weekly:
    name = "weekly_full_refresh"

    def __init__(self, spark, run, tracer, sink, seed: int, fault: str | None = None):
        self.spark, self.run, self.tracer, self.sink, self.seed = spark, run, tracer, sink, seed
        self.fault = fault
        self.spec = cube_spec()
        self.key = self.spec.mapping.alternate_key
        self.table_name = self.spec.mapping.table
        self.cube = None
        self.week_s: list[float] = []
        self.attempted = 0
        self.failures: dict[tuple[int, str], str] = {}
        self.unattributed = 0

    def _target(self):
        from bw_new_data_integration_spark.sources.parquet_target import ParquetKeyedTable

        return ParquetKeyedTable(self.run.sub("targets", self.table_name), [self.key])

    def _mapped(self, pdf):
        from bw_new_data_integration_spark.plans import pipeline as plans

        df = self.spark.createDataFrame(pdf)
        return plans.build_plan(df, dataclasses.replace(self.spec, aggregate=None), audit_ts=True)

    def _sync(self) -> None:
        from bw_new_data_integration_spark.sources import sync

        with self.tracer.span("sync") as s:
            stats = sync.sync_to_rest(
                self.spark, self._target(),
                sink_factory(self.sink.url, self.table_name, self.key), self.key, app="weekly",
            )
            s.counts.update(
                rows_upserted=stats.get("upserted", 0), rows_deleted=stats.get("deleted", 0),
                batches=stats.get("sink_batches", 0), errors=stats.get("errors", 0),
            )

    def _serve_week(self, w: int) -> None:
        responses = self.data.responses(w)
        if self.fault == "cube_cell" and w == 1:
            k = min(responses)
            body = responses[k].decode()
            i = body.index("<Value>") + len("<Value>")
            j = body.index("</Value>", i)
            responses[k] = (body[:i] + str(float(body[i:j]) + 1.0) + body[j:]).encode()
        cells = self.data.n_stores(w) * DAYS * len(self.data.fields)
        self.cube.serve(responses, {k: cells for k in responses})

    def setup(self) -> None:
        from perfbench.fakes import FakeCube

        t = self.tracer
        with t.span("setup.inputs"):
            self.data = CubeData(self.spec, self.seed)
            self.cube = FakeCube(int(CPUS))
            os.environ[CUBE_PASSWORD_ENV] = "perfbench-password"
        # week 0 is the starting state, loaded by the steps a week runs
        with t.span("setup.bootstrap"):
            self._serve_week(0)
            self._week()

    def _args(self):
        return argparse.Namespace(
            from_cube=True, backfill_years=[FISCAL_YEAR], fy=None, fp=None, length=None,
            xmla_server=self.cube.url, xmla_user=CUBE_USER, xmla_password_env=CUBE_PASSWORD_ENV,
            xmla_insecure=False, xmla_timeout=300.0, target_root=self.run.sub("targets"),
            print_plan=False, dry_run=False, maintain=None, to_odata_url=None, from_delta=None,
        )

    def _week(self) -> None:
        """One Sunday refresh against the week the cube serves."""
        from pyspark.sql import Observation
        from pyspark.sql import functions as F

        from bw_new_data_integration_spark import runner
        from bw_new_data_integration_spark.plans import pipeline as plans

        t = self.tracer
        start = F.lit(dt.datetime.now(dt.timezone.utc).replace(tzinfo=None))
        with t.span("runner.run_one"):
            if not t.enabled:
                runner.run_one(self.spark, {self.spec.name: self.spec}, self.spec.name, self._args())
            else:
                # the steps of runner.run_one (from_cube, parquet target),
                # with the fetch materialized so it is its own span
                with t.span("xmla.fetch"):
                    src = runner.fetch_cube_source(self.spark, self.spec, self._args()).localCheckpoint(eager=True)
                with t.span("plans.build"):
                    df = plans.build_plan(src, dataclasses.replace(self.spec, aggregate=None), audit_ts=True)
                    obs = Observation(f"pipeline_metrics_{self.spec.name}")
                    df = df.observe(
                        obs,
                        F.count(F.lit(1)).alias("rows_out"),
                        F.sum(F.when(F.col(self.key).isNull() | (F.length(self.key) == 0), 1).otherwise(0))
                        .alias("empty_keys"),
                    )
                target = self._target()
                with t.span("parquet_target.upsert") as s:
                    v = target.upsert(self.spark, df)
                s.counts.update(commit_counts(target, v))
                target.read(self.spark).count()
                obs.get  # noqa: B018 - run_one reads it into its summary
        target = self._target()
        with t.span("parquet_target.delete"):
            stale = target.read(self.spark).where(F.col("last_refreshed") < start).select(self.key)
            target.delete_keys(self.spark, stale)
        self._sync()

    def timed(self, seconds: float) -> None:
        w = 1
        while w <= WEEKS and (w == 1 or sum(self.week_s) < seconds):
            self._serve_week(w)
            with self.tracer.span("week") as s:
                self._week()
            self.week_s.append(s.wall)
            self.check_week(w)
            w += 1

    def fake_counters(self) -> dict:
        c = self.cube.counters()
        return {
            "xmla.requests": c["requests"], "xmla.response_bytes": c["response_bytes"],
            "xmla.cells": self.cube.cells, "cube.busy_s": c["busy_s"],
        }

    def timed_wall_s(self) -> float:
        return sum(self.week_s)

    def metrics(self) -> dict:
        return {"run_s": statistics.median(self.week_s)}

    def check_week(self, w: int) -> None:
        """After week ``w``: the target equals the week's cube after
        mapping, and the sink equals the target. Ops: one per record the
        week must apply (an upsert per cube row, a delete per key of the
        store that closed this week)."""
        want = sink_form(self._mapped(self.data.frame(w)).drop("last_refreshed").collect(), self.key)
        got = sink_form(self._target().read(self.spark).collect(), self.key)
        sink = self.sink.snapshot(self.table_name)
        vanished = self.data.vanished_keys(w)
        earlier = set().union(*(self.data.vanished_keys(k) for k in range(1, w)))
        self.attempted += len(want) + len(vanished)
        for k, rec in want.items():
            if {f: v for f, v in got.get(k, {}).items() if f != "last_refreshed"} != rec:
                self.failures[(w, k)] = "target differs from the cube"
            elif sink.get(k) != got[k]:
                self.failures[(w, k)] = "sink differs from target"
        for k in vanished:
            if k in got:
                self.failures[(w, k)] = "vanished key still in the target"
            elif k in sink:
                self.failures[(w, k)] = "vanished key still at the sink"
        # keys of stores closed in earlier weeks were counted then
        self.unattributed += len((set(got) | set(sink)) - set(want) - vanished - earlier)

    def check(self) -> None:
        pass

    def correct(self) -> bool:
        """Every timed week was checked and every mismatch belongs to a
        counted operation."""
        return bool(self.week_s) and self.unattributed == 0

    def close(self) -> None:
        if self.cube is not None:
            self.cube.close()
