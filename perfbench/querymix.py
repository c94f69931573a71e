"""``query_mix``: analysts reading what the jobs produced.

Set-up generates the fixture (sf0.01, the nightly's scale, so the
workload fits the benchmark's time budget), builds the daily_sales
target over two versions (one commit per ship quarter) and the
daily_sales_full landing table and maintained rollup. The timed phase
materializes a fixed list of read-only registry entries from the
reference surface, in a seeded order, then three target reads: a
stats-pruned ``read_where`` on a selective date predicate (at this scale
the target's current version is one file, so nothing is pruned), a
time-travel ``read(version=)``, and ``serve_pipeline_from_matview``.
Nothing is written while timed.
"""

from __future__ import annotations

import math
import random

from perfbench import fixture
from perfbench.common import PIPELINES_YAML

SF = 0.01
#: one fixed list for every seed; the seed only orders it
QUERIES = (
    "a1_pricing_summary",
    "a6_grouping_sets",
    "c10_day_part",
    "f5_fiscal_period_slice",
    "j8_anti_join",
    "o4_moving_avg",
    "o8_session_window_native",
    "q3_shipping_priority",
    "q18_large_orders",
    "pipeline_inventory",
)
#: the daily_sales target: one commit per ship quarter of 1998
QUARTERS = (1, 2)
READ_VERSION = 0
READ_DAYS = ("1998-03-01", "1998-03-14")


def _canon(pdf):
    pdf = pdf[sorted(pdf.columns)]
    return pdf.sort_values(list(pdf.columns), na_position="last").reset_index(drop=True)


def same_rows(a, b) -> bool:
    """Row-multiset equality of two pandas frames: same columns, same
    rows after a canonical sort, floats compared exactly (NaN == NaN)."""
    if len(a) != len(b) or sorted(a.columns) != sorted(b.columns):
        return False
    a, b = _canon(a), _canon(b)
    for col in a.columns:
        for x, y in zip(a[col].tolist(), b[col].tolist()):
            if x is None or (isinstance(x, float) and math.isnan(x)):
                if not (y is None or (isinstance(y, float) and math.isnan(y))):
                    return False
            elif isinstance(x, float) or isinstance(y, float):
                if y is None or x != y:
                    return False
            elif str(x) != str(y):
                return False
    return True


class QueryMix:
    name = "query_mix"

    def __init__(self, spark, run, tracer, sink, seed: int, fault: str | None = None):
        from bw_new_data_integration_spark.plans import pipeline as plans

        self.spark, self.run, self.tracer, self.seed = spark, run, tracer, seed
        self.fault = fault
        self.specs = plans.load_pipelines(PIPELINES_YAML)
        self.sf_dir = run.sub("inputs")
        self.order = list(QUERIES)
        random.Random(seed).shuffle(self.order)
        self.results: dict[str, object] = {}
        self.run_s = 0.0
        self.attempted = 0
        self.failures: dict[str, str] = {}

    def _tables(self):
        from bw_new_data_integration_spark.sources.parquet_target import ParquetKeyedTable

        ds = self.specs["daily_sales"].mapping
        target = ParquetKeyedTable(self.run.sub("targets", ds.table), [ds.alternate_key], stats_cols=["calendar_date"])
        landing = ParquetKeyedTable(self.run.sub("targets", "landing_lineitem"), ["l_orderkey", "l_linenumber"], change_feed=True)
        rollup = ParquetKeyedTable(self.run.sub("targets", "rollup_daily_sales_full"), ["store_number", "calendar_date"])
        return target, landing, rollup

    def _lineitem_1998(self, quarters):
        from pyspark.sql import functions as F

        from bw_new_data_integration_spark import catalog

        li = catalog.load(self.spark, self.sf_dir, "lineitem")
        return li.where((F.year("l_shipdate") == 1998) & F.quarter("l_shipdate").isin(list(quarters)))

    def _quarter_plan(self, quarters):
        from bw_new_data_integration_spark.plans import pipeline as plans

        return plans.build_plan(self._lineitem_1998(quarters), self.specs["daily_sales"])

    def _landed(self):
        """The landing table's rows: the first ship quarter of 1998, one
        row per (order, line) — the fixture repeats some pairs."""
        return self._lineitem_1998([1]).dropDuplicates(["l_orderkey", "l_linenumber"])

    def setup(self) -> None:
        from bw_new_data_integration_spark.plans.matview_pipeline import (
            maintain_pipeline_rollup,
            staging_frame,
        )

        t = self.tracer
        with t.span("setup.inputs"):
            fixture.generate(self.sf_dir, SF, self.seed)
        with t.span("setup.bootstrap"):
            target, landing, rollup = self._tables()
            for q in QUARTERS:
                target.upsert(self.spark, self._quarter_plan([q]))
            full = self.specs["daily_sales_full"]
            landing.upsert(self.spark, staging_frame(self._landed(), full))
            maintain_pipeline_rollup(self.spark, full, landing, rollup)

    def timed(self, seconds: float) -> None:
        from bw_new_data_integration_spark import queries
        from bw_new_data_integration_spark.plans.matview_pipeline import serve_pipeline_from_matview

        t = self.tracer
        reg = queries.registry()
        target, _landing, rollup = self._tables()
        with t.span("query_mix") as root:
            for name in self.order:
                with t.span("query", query=name):
                    self.results[name] = reg[name](self.spark, self.sf_dir).toPandas()
            with t.span("parquet_target.read") as s:
                df, report = target.read_where(
                    self.spark, [("calendar_date", "between", READ_DAYS)], with_report=True
                )
                self.results["read_where"] = df.toPandas()
                s.counts.update(files_scanned=report["files_read"], files_total=report["files_total"])
            with t.span("parquet_target.read") as s:
                self.results["read_version"] = target.read(self.spark, version=READ_VERSION).toPandas()
                n = len(target.manifest(READ_VERSION)["files"])
                s.counts.update(files_scanned=n, files_total=n)
            with t.span("matview.serve"):
                self.results["serve"] = serve_pipeline_from_matview(
                    self.spark, self.specs["daily_sales_full"], rollup
                ).toPandas()
        self.run_s = root.wall
        if self.fault == "query_row":
            pdf = self.results[QUERIES[0]]
            col = pdf.columns[-1]
            pdf.loc[0, col] = pdf.loc[0, col] + 1 if pdf[col].dtype.kind in "if" else "x"

    def fake_counters(self) -> dict:
        return {}

    def timed_wall_s(self) -> float:
        return self.run_s

    def metrics(self) -> dict:
        return {"run_s": self.run_s}

    def check(self) -> None:
        """Each query's rows equal its DuckDB oracle over the same
        fixture; each target read equals the same filter applied to
        ``read()`` (or, for the rollup, to a from-scratch build)."""
        import duckdb
        from pyspark.sql import functions as F

        from bw_new_data_integration_spark import queries
        from bw_new_data_integration_spark.plans import pipeline as plans

        oracles = queries.oracles()
        con = duckdb.connect()
        try:
            for tname in fixture.TABLES:
                con.sql(f"CREATE VIEW {tname} AS SELECT * FROM '{self.sf_dir}/{tname}.parquet'")
            for name in self.order:
                self.attempted += 1
                if not same_rows(self.results[name], con.sql(oracles[name]).df()):
                    self.failures[name] = "rows differ from the DuckDB oracle"
        finally:
            con.close()
        target, _landing, rollup = self._tables()
        lo, hi = READ_DAYS
        expected = {
            "read_where": target.read(self.spark).where(F.col("calendar_date").between(lo, hi)),
            "read_version": self._quarter_plan(QUARTERS[: READ_VERSION + 1]),
            "serve": plans.build_plan(self._landed(), self.specs["daily_sales_full"]),
        }
        for name, df in expected.items():
            self.attempted += 1
            got = self.results[name].drop(columns=["last_refreshed"], errors="ignore")
            want = df.drop("last_refreshed").toPandas()
            if not same_rows(got, want):
                self.failures[name] = "read differs from its expected rows"

    def correct(self) -> bool:
        """Every query and target read was checked."""
        return self.attempted == len(self.order) + 3

    def close(self) -> None:
        pass
