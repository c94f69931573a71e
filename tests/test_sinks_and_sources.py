"""Sinks, sources, streaming, and pipeline-runner behavior tests:
idempotency, retry discipline, snapshot isolation, XMLA flattening —
the reference's invariants as assertions (SURVEY.md §5).
"""

from __future__ import annotations

import json
import os
from urllib.parse import unquote as _unquote

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from bw_new_data_integration_spark.sources import odata, xmla
from bw_new_data_integration_spark.sources.parquet_target import ParquetKeyedTable
from bw_new_data_integration_spark.streaming import incremental


def as_sorted_tuples(df):
    return sorted(tuple(r) for r in df.collect())


# --- ParquetKeyedTable: the keyed-upsert sink -----------------------------


def test_upsert_idempotent(spark, tmp_path):
    t = ParquetKeyedTable(str(tmp_path / "t"), ["k"])
    base = spark.createDataFrame([Row(k="a", v=1), Row(k="b", v=2)])
    t.upsert(spark, base)
    patch = spark.createDataFrame([Row(k="b", v=20), Row(k="c", v=3)])
    t.upsert(spark, patch)
    first = as_sorted_tuples(t.read(spark))
    assert first == [("a", 1), ("b", 20), ("c", 3)]
    # re-running the same upsert changes nothing (idempotency — the
    # property the reference gets from PATCH-by-alternate-key)
    t.upsert(spark, patch)
    assert as_sorted_tuples(t.read(spark)) == first


def test_upsert_within_batch_last_write_wins(spark, tmp_path):
    t = ParquetKeyedTable(str(tmp_path / "t"), ["k"])
    dup = spark.createDataFrame(
        [Row(k="a", v=1, seq=1), Row(k="a", v=99, seq=2), Row(k="b", v=5, seq=1)]
    )
    t.upsert(spark, dup, order_by=["seq"])
    assert as_sorted_tuples(t.read(spark).select("k", "v")) == [("a", 99), ("b", 5)]


def test_delete_keys_and_snapshot_isolation(spark, tmp_path):
    t = ParquetKeyedTable(str(tmp_path / "t"), ["k"])
    t.upsert(spark, spark.createDataFrame([Row(k="a", v=1), Row(k="b", v=2)]))
    old = t.read(spark)  # bound to snapshot v=0
    t.delete_keys(spark, spark.createDataFrame([Row(k="a")]))
    assert as_sorted_tuples(t.read(spark)) == [("b", 2)]
    # the pre-delete reader still sees its snapshot
    assert as_sorted_tuples(old) == [("a", 1), ("b", 2)]


# --- trailing-window incremental sync -------------------------------------


def test_sync_trailing_window_repairs_late_data(spark, tmp_path):
    t = ParquetKeyedTable(str(tmp_path / "t"), ["k"])
    v1 = spark.createDataFrame(
        [Row(k="d1", d="2024-01-20", v=10.0), Row(k="d2", d="2024-01-25", v=20.0)]
    )
    incremental.sync_trailing_window(
        spark, v1, t, "d", days=14, anchor=F.lit("2024-01-30")
    )
    # late-arriving correction inside the window
    v2 = spark.createDataFrame(
        [Row(k="d1", d="2024-01-20", v=11.0), Row(k="d2", d="2024-01-25", v=20.0)]
    )
    incremental.sync_trailing_window(
        spark, v2, t, "d", days=14, anchor=F.lit("2024-01-30")
    )
    assert as_sorted_tuples(t.read(spark).select("k", "v")) == [("d1", 11.0), ("d2", 20.0)]
    # outside the window -> not synced
    v3 = spark.createDataFrame([Row(k="old", d="2023-12-01", v=1.0)])
    incremental.sync_trailing_window(
        spark, v3, t, "d", days=14, anchor=F.lit("2024-01-30")
    )
    assert t.read(spark).filter("k = 'old'").count() == 0


def test_full_refresh_interlocks(spark, tmp_path):
    t = ParquetKeyedTable(str(tmp_path / "t"), ["k"])
    slices = {"fy1": spark.createDataFrame([Row(k="a", v=1)])}
    with pytest.raises(PermissionError):
        incremental.full_refresh(spark, slices, t, confirm_delete=False)
    out = incremental.full_refresh(spark, slices, t, dry_run=True)
    assert out["dry_run"] == 1 and t.read(spark) is None
    incremental.full_refresh(spark, slices, t, confirm_delete=True)
    assert as_sorted_tuples(t.read(spark)) == [("a", 1)]


# --- batched REST sink: retry discipline ----------------------------------


def test_write_batched_counts_and_batching(spark):
    df = spark.range(0, 1000).select(
        F.concat(F.lit("k"), F.col("id")).alias("bk"), F.col("id").alias("v")
    )
    calls = []

    def transport_factory():
        def transport(batch):
            calls.append(len(batch))
            return [201 if i % 2 == 0 else 204 for i in range(len(batch))]

        return transport

    stats = odata.write_batched(df, transport_factory, "bk", batch_size=400, concurrency=2)
    assert stats["created"] + stats["updated"] == 1000
    assert stats["errors"] == 0
    assert stats["batches"] >= 3  # 1000 rows / 400 per batch across 2 partitions


def test_write_batched_progress_log_line(caplog):
    """Per-batch progress observability (reference modules/dataverse.py:
    213-219): created/updated/errors + ok-rows/sec on the executor log.
    Unit-tested directly — the executor's Python worker process is
    outside caplog's reach in a real foreachPartition."""
    import logging
    import time as _time

    stats = odata.BatchStats()
    stats.created, stats.updated, stats.errors, stats.batches = 300, 99, 1, 1
    with caplog.at_level(logging.INFO, logger="bw_new_data_integration_spark.sources.odata"):
        odata._log_progress(stats, _time.time() - 2.0)
    assert len(caplog.records) == 1
    msg = caplog.records[0].getMessage()
    assert "batch 1 done: 300 created, 99 updated, 1 errors" in msg
    assert "ok-rows/sec" in msg
    # ~399 ok rows over ~2s -> ~200 rows/sec
    rate = float(msg.split("|")[1].strip().split(" ")[0])
    assert 150 <= rate <= 250


def test_write_batched_skips_keyless_and_prunes_nulls(spark, tmp_path):
    df = spark.createDataFrame(
        [Row(bk="a", v=1), Row(bk=None, v=2), Row(bk="", v=3), Row(bk="b", v=None)]
    )
    # foreachPartition runs in executor worker processes, so the fake
    # transport records what it saw via a spool file, not a driver list.
    spool = str(tmp_path / "seen.jsonl")

    def transport_factory():
        def transport(batch):
            with open(spool, "a") as fh:
                for rec in batch:
                    fh.write(json.dumps(rec, sort_keys=True) + "\n")
            return [204] * len(batch)

        return transport

    stats = odata.write_batched(df, transport_factory, "bk", batch_size=10, concurrency=1)
    assert stats["updated"] == 2  # only 'a' and 'b'
    with open(spool) as fh:
        seen = [json.loads(line) for line in fh]
    assert {"bk": "b"} in seen  # null v pruned from the record (P7)


def test_delete_batched_sends_the_delete_verb(spark, tmp_path):
    """``delete_batched`` calls ``transport(batch, method="DELETE")``:
    a delete never reaches the sink as a key-only upsert. A 404 (key
    already gone) counts as done; a transport without a ``method``
    parameter fails the push instead of upserting the keys."""
    keys = spark.createDataFrame([Row(bk="a"), Row(bk="b"), Row(bk="c")])
    spool = str(tmp_path / "verbs.jsonl")

    def factory():
        def transport(batch, method="PATCH"):
            with open(spool, "a") as fh:
                for rec in batch:
                    fh.write(json.dumps({**rec, "method": method}) + "\n")
            return [404 if rec["bk"] == "c" else 204 for rec in batch]

        return transport

    stats = odata.delete_batched(keys, factory, "bk", concurrency=1)
    assert stats["updated"] == 3 and stats["errors"] == 0
    with open(spool) as fh:
        seen = sorted((r["bk"], r["method"]) for r in map(json.loads, fh))
    assert seen == [("a", "DELETE"), ("b", "DELETE"), ("c", "DELETE")]

    def upsert_only():
        return lambda batch: [204] * len(batch)

    with pytest.raises(Exception, match="method"):
        odata.delete_batched(keys, upsert_only, "bk", concurrency=1)


def test_retry_policy_429_then_success():
    stats = odata.BatchStats()
    attempts = []

    def transport(batch):
        attempts.append(1)
        if len(attempts) < 3:
            return [429] * len(batch)
        return [204] * len(batch)

    odata._send_batch(
        [{"bk": "a"}], transport, odata.RetryPolicy(), stats, sleep=lambda s: None
    )
    assert len(attempts) == 3 and stats.updated == 1 and stats.errors == 0


def test_retry_policy_exhaustion():
    stats = odata.BatchStats()

    def transport(batch):
        return [503] * len(batch)

    odata._send_batch(
        [{"bk": "a"}, {"bk": "b"}], transport, odata.RetryPolicy(max_attempts=2), stats,
        sleep=lambda s: None,
    )
    assert stats.errors == 2


def test_retry_backoff_shape():
    p = odata.RetryPolicy()
    assert p.delay(0) == 1.0 and p.delay(1) == 2.0 and p.delay(6) == 60.0
    assert p.delay(0, retry_after=17.0) == 17.0  # honor Retry-After


# --- XMLA source: ordinal flattening --------------------------------------

XMLA_SAMPLE = """<?xml version="1.0"?>
<root xmlns="urn:schemas-microsoft-com:xml-analysis:mddataset">
  <Axes>
    <Axis name="Axis0">
      <Tuples>
        <Tuple><Member Hierarchy="[Measures]"><Caption>Net Sales</Caption></Member></Tuple>
        <Tuple><Member Hierarchy="[Measures]"><Caption>Orders</Caption></Member></Tuple>
      </Tuples>
    </Axis>
    <Axis name="Axis1">
      <Tuples>
        <Tuple>
          <Member Hierarchy="[Store].[Store Number]"><Caption>101</Caption></Member>
          <Member Hierarchy="[Calendar].[Date]"><Caption>2024-01-01</Caption></Member>
        </Tuple>
        <Tuple>
          <Member Hierarchy="[Store].[Store Number]"><Caption>102</Caption></Member>
          <Member Hierarchy="[Calendar].[Date]"><Caption>2024-01-01</Caption></Member>
        </Tuple>
      </Tuples>
    </Axis>
  </Axes>
  <CellData>
    <Cell CellOrdinal="0"><Value>123.45</Value></Cell>
    <Cell CellOrdinal="1"><Value>7</Value></Cell>
    <Cell CellOrdinal="3"><Value>9</Value></Cell>
  </CellData>
</root>
"""

HIERARCHY_MAPPINGS = [
    {"pattern": r"Store", "field": "store_number"},
    {"pattern": r"Calendar|Date", "field": "calendar_date"},
]


def test_xmla_parse_axes_and_cells():
    measures, rows, cells = xmla.parse_axes_and_cells(XMLA_SAMPLE)
    assert measures == ["Net Sales", "Orders"]
    assert len(rows) == 2
    # sparse: ordinal 2 (row1 × measure0) is absent
    assert cells == {0: "123.45", 1: "7", 3: "9"}


def test_xmla_render_roundtrip_escapes_hostile_captions():
    """render_mddataset must escape &, <, and quotes in captions,
    hierarchy names, and values — the parse round-trip stays lossless
    for member names like 'R&D <West> "HQ"'."""
    hostile = 'R&D <West> "HQ"'
    hier = '[Store].[Name & "Region"]'
    xml_text = xmla.render_mddataset(
        ["Net & Gross"], [[(hier, hostile)]], [["12 < 34 & 56"]]
    )
    measures, rows, cells = xmla.parse_axes_and_cells(xml_text)
    assert measures == ["Net & Gross"]
    assert rows == [{hier: hostile}]
    assert cells == {0: "12 < 34 & 56"}


def test_xmla_response_to_df(spark):
    df = xmla.response_to_df(spark, XMLA_SAMPLE, HIERARCHY_MAPPINGS)
    got = {tuple(r) for r in df.collect()}
    # ordinal invariant: CellOrdinal = row_idx * n_measures + col_idx
    assert got == {
        ("101", "2024-01-01", 123.45, 7.0),
        ("102", "2024-01-01", None, 9.0),
    }


def test_xmla_fetch_partitioned_unions_slices(spark):
    df = xmla.fetch_partitioned(
        spark,
        execute=lambda mdx: XMLA_SAMPLE,
        mdx_by_slice={"fy2024": "SELECT ...", "fy2025": "SELECT ..."},
        hierarchy_mappings=HIERARCHY_MAPPINGS,
    )
    assert df.count() == 4
    assert set(df.select("__slice").distinct().toPandas()["__slice"]) == {"fy2024", "fy2025"}


def test_xmla_fetch_distributed_matches_driver_path(spark):
    """The executor-side mapInPandas fetch must produce exactly the
    driver-loop fetch's rows — same ordinal-invariant flatten, same
    sparse-cell nulls, same numeric coercion — for any slice count."""
    mdx_by_slice = {f"fy{y}": f"SELECT [FY{y}]" for y in range(2016, 2025)}  # 9 slices
    seq = xmla.fetch_partitioned(
        spark,
        execute=lambda mdx: XMLA_SAMPLE,
        mdx_by_slice=mdx_by_slice,
        hierarchy_mappings=HIERARCHY_MAPPINGS,
    ).select("__slice", "store_number", "calendar_date", "Net Sales", "Orders")
    dist = xmla.fetch_partitioned_distributed(
        spark,
        lambda: (lambda mdx: XMLA_SAMPLE),
        mdx_by_slice,
        HIERARCHY_MAPPINGS,
        dim_fields=["store_number", "calendar_date"],
        measure_fields=["Net Sales", "Orders"],
    ).select("__slice", "store_number", "calendar_date", "Net Sales", "Orders")
    assert sorted(map(tuple, seq.collect())) == sorted(map(tuple, dist.collect()))
    # one slice per input partition: parallelism == slice count
    assert dist.rdd.getNumPartitions() == len(mdx_by_slice)


def test_soap_envelope_contains_mdx():
    env = xmla.build_soap_request("SELECT {x} ON 0", "OARS Franchise")
    assert "<![CDATA[SELECT {x} ON 0]]>" in env and "OARS Franchise" in env


# --- pipeline compiler end-to-end (CLI path) -------------------------------


def test_pipeline_runner_upsert_roundtrip(spark, tmp_path):
    from bw_new_data_integration_spark.plans import pipeline as plans
    from bw_new_data_integration_spark import catalog

    specs = plans.load_pipelines(
        os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "pipelines", "pipelines.yaml")
    )
    spec = specs["daily_sales"]
    src = catalog.load(spark, "/root/testdata/sf0.001", spec.source_table)
    df = plans.build_plan(src, spec)
    target = ParquetKeyedTable(str(tmp_path / "daily_sales"), [spec.mapping.alternate_key])
    target.upsert(spark, df)
    n1 = target.read(spark).count()
    # idempotent re-run
    target.upsert(spark, plans.build_plan(src, spec))
    assert target.read(spark).count() == n1
    # keys unique
    assert (
        target.read(spark).groupBy("business_key").count().filter("count > 1").count() == 0
    )


def test_audit_column_agrees_between_table_and_change_feed(spark, tmp_path):
    """``build_plan(audit_ts=True)`` stamps ONE instant per plan: a
    change_feed upsert runs the plan twice (snapshot write, then
    change-event staging), and the table and its change feed must
    carry the same ``last_refreshed``."""
    from bw_new_data_integration_spark import catalog
    from bw_new_data_integration_spark.plans import pipeline as plans

    from .conftest import SF_SMALL

    specs = plans.load_pipelines(
        os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "pipelines", "pipelines.yaml")
    )
    spec = specs["daily_sales"]
    key = spec.mapping.alternate_key
    src = catalog.load(spark, SF_SMALL, spec.source_table)
    t = ParquetKeyedTable(str(tmp_path / "audit"), [key], change_feed=True)
    t.upsert(spark, plans.build_plan(src, spec, audit_ts=True))
    v0 = t.current_version()
    t.upsert(spark, plans.build_plan(src, spec, audit_ts=True))
    assert dict(t.read(spark).dtypes)["last_refreshed"] == "timestamp"
    table = {r[key]: r["last_refreshed"] for r in t.read(spark).collect()}
    post = {
        r[key]: r["last_refreshed"]
        for r in t.commit_changes(spark, v0)
        .where(F.col("_change_type") == "update_postimage")
        .collect()
    }
    assert len(set(table.values())) == 1  # one instant for the whole plan
    assert post == table  # every row re-stamped, feed agrees with table


def test_get_spark_keeps_a_running_sessions_conf(spark, monkeypatch):
    """``get_spark()`` on a live session (``runner.main`` inside a test
    or notebook) returns it without re-applying the engine's runtime
    SQL conf: shuffle partitions stay what the session's owner set."""
    from bw_new_data_integration_spark.session import get_spark

    key = "spark.sql.shuffle.partitions"
    before = spark.conf.get(key)
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    got = get_spark(app_name="pipeline_runner")
    assert got.sparkContext is spark.sparkContext
    assert before != "3" and spark.conf.get(key) == before


def test_pipeline_slicer_prunes(spark):
    from bw_new_data_integration_spark.plans import pipeline as plans, slicers
    from bw_new_data_integration_spark import catalog

    specs = plans.load_pipelines(
        os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "pipelines", "pipelines.yaml")
    )
    spec = specs["daily_sales"]
    src = catalog.load(spark, "/root/testdata/sf0.001", spec.source_table)
    full = plans.build_plan(src, spec).count()
    sliced = plans.build_plan(src, spec, slicer=slicers.fiscal_year("l_shipdate", 1997)).count()
    assert 0 < sliced < full


# --- streaming -------------------------------------------------------------


def test_streaming_windowed_upsert(spark, tmp_path):
    from bw_new_data_integration_spark.streaming import stream

    # file-stream sources watch a directory; stage the fixture file into one
    src_dir = tmp_path / "events_in"
    src_dir.mkdir()
    os.symlink("/root/testdata/sf0.001/events.parquet", src_dir / "part-0.parquet")

    target = ParquetKeyedTable(str(tmp_path / "agg"), ["window_start", "event_type"])
    stream.run_stream_once(
        spark,
        str(src_dir),
        target,
        str(tmp_path / "ckpt"),
    )
    out = target.read(spark)
    assert out.count() > 0
    # grain is unique per (window, type)
    assert (
        out.groupBy("window_start", "event_type").count().filter("count > 1").count() == 0
    )
    # streaming totals equal the batch equivalent
    from bw_new_data_integration_spark import catalog

    ev = catalog.load(spark, "/root/testdata/sf0.001", "events")
    batch_total = ev.count()
    assert out.agg(F.sum("n")).collect()[0][0] == batch_total


def test_upsert_schema_evolution(spark, tmp_path):
    """K5: a source with a new column evolves the table schema —
    untouched rows get null, and columns missing from the source
    survive (the reference's add-columns metadata scripts)."""
    t = ParquetKeyedTable(str(tmp_path / "evolve"), ["k"])
    t.overwrite(spark.createDataFrame([Row(k="a", x=1), Row(k="b", x=2)]))
    src = spark.createDataFrame([Row(k="b", x=20, y="new"), Row(k="c", x=3, y="brand")])
    t.upsert(spark, src, evolve_schema=True)
    got = {r["k"]: (r["x"], r["y"]) for r in t.read(spark).collect()}
    assert got == {"a": (1, None), "b": (20, "new"), "c": (3, "brand")}


def test_upsert_without_evolution_rejects_missing_columns(spark, tmp_path):
    t = ParquetKeyedTable(str(tmp_path / "strict"), ["k"])
    t.overwrite(spark.createDataFrame([Row(k="a", x=1)]))
    src = spark.createDataFrame([Row(k="b", y="other")])  # no x
    with pytest.raises(Exception):
        t.upsert(spark, src)


def test_salted_aggregate_matches_plain(spark):
    """Skew-spreading two-phase aggregation must be value-identical to
    the direct groupBy (decimal sums are associative)."""
    from bw_new_data_integration_spark.operators import aggregate

    df = spark.range(0, 10_000).select(
        (F.col("id") % 3).alias("g"), (F.col("id") % 97).cast("double").alias("v")
    )
    salted = aggregate.salted_aggregate(
        df,
        ["g"],
        {
            "n": (F.count(F.lit(1)), "sum"),
            "s": (F.sum(F.col("v").cast("decimal(27,6)")), "sum"),
            "mx": (F.max("v"), "max"),
        },
        salt_buckets=8,
    )
    plain = df.groupBy("g").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("v").cast("decimal(27,6)")).alias("s"),
        F.max("v").alias("mx"),
    )
    assert as_sorted_tuples(salted) == as_sorted_tuples(plain)


def test_parquet_backed_odata_server_matches_in_memory(spark, tmp_path):
    """ParquetBackedODataServer (executor-side fixture synthesis,
    VERDICT r8 #8) serves byte-identical protocol responses to the
    in-memory server over the same rows: $filter pushdown to the
    parquet read, $select projection, $top paging and nextLink
    continuation all agree."""
    from bw_new_data_integration_spark.sources.odata_testing import (
        InMemoryODataServer,
        ParquetBackedODataServer,
    )

    p = str(tmp_path / "odata_tbl.parquet")
    spark.range(0, 300).select(
        F.col("id").alias("k"),
        (F.col("id") % 7).cast("int").alias("g"),
        (F.col("id") * 1.5).alias("v"),
    ).toPandas().to_parquet(p, index=False)
    import pandas as pd

    records = pd.read_parquet(p).to_dict("records")
    mem = InMemoryODataServer(records)
    pq_srv = ParquetBackedODataServer(p)

    def walk(server, url):
        out = []
        while url:
            page = server.fetch(url)
            out.extend(page["value"])
            url = page.get("@odata.nextLink")
        return out

    for url in (
        "t?$select=k,v&$filter=g eq 3&$top=13",
        "t?$top=97",
        "t?$select=k&$filter=g eq 0 and k eq 7&$top=5",
    ):
        a, b = walk(mem, url), walk(pq_srv, url)
        assert a == b, f"mismatch for {url}"
    # a filter matching nothing pages cleanly
    assert walk(pq_srv, "t?$filter=g eq 999&$top=10") == []


def test_advised_aggregate_cost_gate(spark, tmp_path):
    """advised_aggregate engages the sketch→hot_keys→salted composition
    only when the input-size estimate clears the gate; below it (or
    when nothing is advised hot) the plan is the plain one-phase GROUP
    BY — no __salt column, no second exchange. Both branches are
    value-identical."""
    from bw_new_data_integration_spark.operators import aggregate

    # file-backed input so plan_input_bytes has a real estimate; 90% of
    # rows share one hot key
    p = str(tmp_path / "skewed")
    spark.range(0, 20_000).select(
        F.when(F.col("id") % 10 < 9, F.lit("hot"))
        .otherwise(F.concat(F.lit("c"), (F.col("id") % 50).cast("string")))
        .alias("g"),
        (F.col("id") % 97).cast("double").alias("v"),
    ).write.mode("overwrite").parquet(p)
    df = spark.read.parquet(p)
    assert (aggregate.plan_input_bytes(df) or 0) > 0
    measures = {
        "n": (F.count(F.lit(1)), "sum"),
        "s": (F.sum(F.col("v").cast("decimal(27,6)")), "sum"),
        "mx": (F.max("v"), "max"),
    }
    plain = df.groupBy("g").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("v").cast("decimal(27,6)")).alias("s"),
        F.max("v").alias("mx"),
    )
    # under the gate: plain plan (no salt column anywhere in the plan),
    # identical values
    import contextlib
    import io

    gated = aggregate.advised_aggregate(df, ["g"], measures)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        gated.explain(extended=True)
    assert "__salt" not in buf.getvalue()
    assert as_sorted_tuples(gated) == as_sorted_tuples(plain)
    # over the gate (forced): advisor engages, salts the hot key, same values
    engaged = aggregate.advised_aggregate(df, ["g"], measures, min_input_bytes=0)
    assert as_sorted_tuples(engaged) == as_sorted_tuples(plain)
    # forced-on but nothing hot enough: falls back to plain
    quiet = aggregate.advised_aggregate(
        df, ["g"], measures, min_input_bytes=0, min_share=0.999
    )
    assert as_sorted_tuples(quiet) == as_sorted_tuples(plain)


def test_stream_outer_join_evicts_state(spark, tmp_path):
    """Left-outer stream-stream join: unmatched probes emit exactly when
    their state is evicted — state_metrics must show removals, and state
    must not retain the whole stream (bounded by watermark + window)."""
    import uuid

    from bw_new_data_integration_spark.streaming import stream as st

    src_dir = tmp_path / "ev"
    src_dir.mkdir()
    os.symlink("/root/testdata/sf0.001/events.parquet", src_dir / "part-0.parquet")
    probes = st.read_event_stream(spark, str(src_dir))
    quotes = st.read_event_stream(spark, str(src_dir)).filter(
        F.col("event_type") == "click"
    )
    pairs = st.interval_pair_join(
        probes, quotes, window_seconds=300, watermark="1 hour", how="left_outer"
    )
    name = "ssjo_test_" + uuid.uuid4().hex[:6]
    q = (
        pairs.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    res = spark.table(name)
    # outer rows did emit (probes without any click quote in window)
    assert res.filter(F.col("q_event").isNull()).count() > 0
    m = st.state_metrics(q)
    assert m, "stateful join must report state operator metrics"
    join_op = m[0]
    assert join_op["rows_removed"] > 0, "watermark must evict join state"
    # retained state is the trailing (watermark+window) tail, not the stream
    n_events = spark.read.parquet(str(src_dir)).count()
    assert join_op["rows_total"] < 2 * n_events


def test_streaming_dedup_state_bounded(spark, tmp_path):
    """dedup_stream (dropDuplicatesWithinWatermark) keeps state only for
    keys within the watermark horizon: once the watermark passes a key's
    event time + delay, its state row is REMOVED. The unbounded twin
    (dropDuplicates on the key alone) would retain every key forever —
    the 100 TB scale-killer this operator replaces."""
    import uuid

    from pyspark.sql import Row

    from bw_new_data_integration_spark.streaming import stream as st

    src = tmp_path / "dupsrc"
    src.mkdir()
    ckpt = tmp_path / "dupckpt"

    def write_file(name, rows):
        pdf = spark.createDataFrame(
            [Row(event_id=i, ts=ts, user_id=1, event_type=et, value=1.0, props="{}")
             for i, ts, et in rows],
        ).withColumn("ts", F.col("ts").cast("timestamp"))
        stage = tmp_path / f"stage_{name}"
        pdf.coalesce(1).write.parquet(str(stage))
        part = next(p for p in stage.iterdir() if p.name.endswith(".parquet"))
        part.rename(src / f"{name}.parquet")

    # batch 1: keys 1-5 at T0, key 1 duplicated in-batch
    write_file("b1", [
        (1, "2024-01-01 00:00:00", "a"),
        (1, "2024-01-01 00:00:00", "a"),
        (2, "2024-01-01 00:00:00", "a"),
        (3, "2024-01-01 00:00:00", "b"),
        (4, "2024-01-01 00:00:00", "b"),
        (5, "2024-01-01 00:00:00", "b"),
    ])
    events = st.read_event_stream(spark, str(src))
    deduped = st.dedup_stream(events, keys=("event_id",), watermark="1 hour")
    name = "dedup_bounded_" + uuid.uuid4().hex[:6]
    q = (
        deduped.select("event_id", "event_type")
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .option("checkpointLocation", str(ckpt))
        .trigger(processingTime="0 seconds")
        .start()
    )
    try:
        q.processAllAvailable()
        m1 = st.state_metrics(q)
        assert m1 and m1[0]["rows_total"] == 5  # one state row per distinct key

        # batch 2: redelivery of keys 1-5 (same ts, within watermark ->
        # deduped, not re-emitted) plus keys 6-8 two days later, which
        # advances the watermark far past T0 + 1h
        write_file("b2", [
            (1, "2024-01-01 00:00:00", "a"),
            (2, "2024-01-01 00:00:00", "a"),
            (3, "2024-01-01 00:00:00", "b"),
            (4, "2024-01-01 00:00:00", "b"),
            (5, "2024-01-01 00:00:00", "b"),
            (6, "2024-01-03 00:00:00", "c"),
            (7, "2024-01-03 00:00:00", "c"),
            (8, "2024-01-03 00:00:00", "c"),
        ])
        q.processAllAvailable()
        # batch 3: one fresh in-horizon key so the advanced watermark is
        # applied to state (eviction happens at the batch AFTER the
        # watermark advances)
        write_file("b3", [(9, "2024-01-03 00:30:00", "c")])
        q.processAllAvailable()
        metrics = st.state_metrics(q)
        removed = sum(
            op.get("numRowsRemoved", 0)
            for p in q.recentProgress
            for op in p.get("stateOperators", [])
        )
    finally:
        q.stop()

    # every key emitted exactly once despite redelivery
    out = spark.table(name)
    assert out.count() == 9
    assert out.select("event_id").distinct().count() == 9
    # state is bounded to keys within the watermark horizon: keys 1-5
    # (event time 2024-01-01, horizon 1h, watermark now 2024-01-02 23:30)
    # must have been evicted; only the in-horizon keys 6-9 remain
    assert metrics, "dedup must report state operator metrics"
    assert metrics[0]["rows_total"] <= 4, (
        f"state must hold only in-horizon keys, got {metrics[0]['rows_total']}"
    )
    assert removed >= 5, "watermark must evict out-of-horizon dedup state"


def test_foreach_batch_sink_replay_is_idempotent(spark, tmp_path):
    """The reference's nightly 14-day repair re-sends the same window
    every run (SURVEY §2.9); the streaming sink inherits that contract:
    re-delivering an epoch (failure-replay) must leave the table
    byte-for-byte identical because the merge is keyed, not appending."""
    from bw_new_data_integration_spark import catalog
    from bw_new_data_integration_spark.streaming import stream

    src_dir = tmp_path / "ev"
    src_dir.mkdir()
    os.symlink("/root/testdata/sf0.001/events.parquet", src_dir / "part-0.parquet")
    target = ParquetKeyedTable(str(tmp_path / "agg"), ["window_start", "event_type"])
    stream.run_stream_once(spark, str(src_dir), target, str(tmp_path / "ckpt"))
    first = sorted(map(tuple, target.read(spark).collect()))

    # replay the exact epoch the sink already committed: rebuild the same
    # micro-batch aggregate as a batch frame and push it through the same
    # foreachBatch writer
    ev = catalog.load(spark, "/root/testdata/sf0.001", "events")
    agg = (
        ev.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count("*").alias("n"), F.sum("value").alias("sum_value"))
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "event_type",
            "n",
            "sum_value",
        )
    )
    target.upsert(spark, agg)  # what write_batch does on redelivery
    assert sorted(map(tuple, target.read(spark).collect())) == first
    # restarting the stream with the same checkpoint reprocesses nothing
    v = target.current_version()
    stream.run_stream_once(spark, str(src_dir), target, str(tmp_path / "ckpt"))
    assert sorted(map(tuple, target.read(spark).collect())) == first
    assert target.current_version() == v  # empty replay = no new commit


def test_rate_stream_is_deterministic(spark, tmp_path):
    """rate-micro-batch: batch b is exactly rows b*N..(b+1)*N-1 — two
    independent runs produce identical frames (the wall-clock `rate`
    source cannot promise this)."""
    import uuid

    from bw_new_data_integration_spark.streaming import stream as st

    def run(tag):
        src = st.read_rate_stream(spark, rows_per_batch=500, n_partitions=4)
        name = f"rate_{tag}_" + uuid.uuid4().hex[:6]
        q = (
            src.writeStream.format("memory")
            .queryName(name)
            .outputMode("append")
            .option("checkpointLocation", str(tmp_path / f"ck_{tag}"))
            .trigger(once=True)
            .start()
        )
        q.awaitTermination()
        return sorted(r["value"] for r in spark.table(name).collect())

    a, b = run("a"), run("b")
    assert a == b == list(range(500))


def test_streaming_rocksdb_state_store_matches_default(spark, tmp_path):
    """The 100 TB streaming-state config: RocksDB state store (spillable,
    not heap-bound) must produce byte-identical windowed aggregates to
    the default HDFS-backed provider. This is the conf-only swap the
    scale table in README promises — pin that it actually works."""
    import uuid

    from bw_new_data_integration_spark.streaming import stream as st

    src_dir = tmp_path / "ev"
    src_dir.mkdir()
    os.symlink("/root/testdata/sf0.001/events.parquet", src_dir / "part-0.parquet")

    def run(provider: str | None):
        key = "spark.sql.streaming.stateStore.providerClass"
        prev = spark.conf.get(key, None)
        if provider:
            spark.conf.set(key, provider)
        try:
            agg = st.windowed_counts(st.read_event_stream(spark, str(src_dir)))
            name = "rocks_" + uuid.uuid4().hex[:6]
            q = (
                agg.writeStream.format("memory")
                .queryName(name)
                .outputMode("complete")
                .option("checkpointLocation", str(tmp_path / ("ck_" + name)))
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()
            return sorted(map(tuple, spark.table(name).collect()))
        finally:
            if provider:
                if prev is None:
                    spark.conf.unset(key)
                else:
                    spark.conf.set(key, prev)

    default = run(None)
    rocks = run(
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
    )
    assert default == rocks
    assert len(rocks) > 0


def _sess_engines():
    from bw_new_data_integration_spark.streaming.tws import tws_available

    engines = ["apply_in_pandas"]
    if tws_available():
        engines.append("tws")  # protobuf runtime present: exercise both
    return engines


@pytest.mark.parametrize("engine", _sess_engines())
def test_stream_sessionize_state_spans_microbatches(spark, tmp_path, engine):
    """Stateful sessionization must carry (last_ts, count) state across
    micro-batches: two files processed one per trigger must give the
    same per-user counts as the batch operator. Parametrized over the
    dual engines (same seam as heavy hitters / the ledger): both fold
    through _sessions_fold, and the tws engine additionally runs
    wherever protobuf is importable."""
    import uuid

    from pyspark.sql import functions as F

    from bw_new_data_integration_spark import catalog
    from bw_new_data_integration_spark.operators.window_ops import sessionize
    from bw_new_data_integration_spark.streaming.sessionize import stream_sessionize

    ev = catalog.load(spark, "/root/testdata/sf0.001", "events")
    cut = ev.agg(F.percentile_approx("ts", 0.5)).collect()[0][0]
    src = str(tmp_path / "src")
    os.makedirs(src)
    # one parquet file per half, written oldest-first so the file
    # source's mtime ordering replays event time monotonically
    ev.filter(F.col("ts") <= cut).coalesce(1).write.parquet(str(tmp_path / "p1"))
    ev.filter(F.col("ts") > cut).coalesce(1).write.parquet(str(tmp_path / "p2"))
    import glob as g
    import shutil as sh
    import time as t

    for i, d in enumerate(("p1", "p2")):
        for f in g.glob(str(tmp_path / d / "*.parquet")):
            sh.copy(f, os.path.join(src, f"batch_{i}.parquet"))
        t.sleep(1.1)

    # staged files carry real timestamps (unlike the raw ns fixture
    # files), so stream with the batch schema directly
    events = spark.readStream.schema(ev.schema).parquet(src)
    sessions = stream_sessionize(events, gap_minutes=30, engine=engine)
    qname = "sess_mb_" + uuid.uuid4().hex[:6]
    q = (
        sessions.writeStream.format("memory")
        .queryName(qname)
        .outputMode("update")
        .option("maxFilesPerTrigger", "1")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {
        r["user_id"]: r["n"]
        for r in spark.table(qname)
        .groupBy("user_id")
        .agg(F.max("n_sessions").alias("n"))
        .collect()
    }
    expected = {
        r["user_id"]: r["n"]
        for r in sessionize(ev, "user_id", "ts", 30)
        .groupBy("user_id")
        .agg(F.max("session_seq").alias("n"))
        .collect()
    }
    assert got == expected


def test_run_with_notification_success_and_failure():
    """§2.11 run notifications: summary sent on success AND failure,
    failure re-raises (the reference's try/except-email wrapper)."""
    from bw_new_data_integration_spark import notifications as nf

    sent = []
    sender = lambda subject, body: sent.append((subject, body))  # noqa: E731

    result = nf.run_with_notification(
        "daily_sales", lambda: {"rows": 10, "created": 4, "updated": 6}, sender
    )
    assert result["rows"] == 10
    assert sent[0][0] == "[pipeline:daily_sales] SUCCESS"
    assert "created: 4" in sent[0][1]

    with pytest.raises(ValueError):
        nf.run_with_notification(
            "offers", lambda: (_ for _ in ()).throw(ValueError("cube timeout")), sender
        )
    assert sent[1][0] == "[pipeline:offers] FAILURE"
    assert "cube timeout" in sent[1][1]


def test_runner_query_all_dry_run(tmp_path, capsys):
    """CLI surface: --query all iterates every configured pipeline
    (choices discovered from config, like the reference's argparse),
    --dry-run counts without writing."""
    from bw_new_data_integration_spark import runner

    rc = runner.main(
        [
            "--query", "all",
            "--dry-run",
            "--sf-dir", "/root/testdata/sf0.001",
            "--target-root", str(tmp_path / "targets"),
        ]
    )
    assert rc == 0
    out = capsys.readouterr().out
    for name in ("daily_sales", "sales_channel", "offers", "inventory", "clock_in_out"):
        assert name in out
    assert not (tmp_path / "targets").exists()  # dry run wrote nothing
    # observe() run-summary metrics ride the same job: rows observed,
    # and the F1/F7 key-filter audit holds (zero empty keys)
    assert "'rows_out':" in out
    assert "'empty_keys': 0" in out


def test_runner_maintain_compact_and_vacuum(spark, tmp_path, capsys):
    """CLI maintenance surface: load a pipeline, then --maintain
    compact (with --zorder-by) and --maintain vacuum on its target;
    a never-loaded target fails loud instead of no-op'ing."""
    from bw_new_data_integration_spark import runner

    troot = str(tmp_path / "targets")
    args = ["--query", "daily_sales", "--sf-dir", "/root/testdata/sf0.001",
            "--target-root", troot]
    assert runner.main(args) == 0  # v0 load
    assert runner.main(args) == 0  # v1 load (gives vacuum something to remove)
    rc = runner.main(
        args + ["--maintain", "compact", "--zorder-by", "qty,line_count"]
    )
    assert rc == 0
    out = capsys.readouterr().out
    assert "'maintain': 'compact'" in out and "'zorder_by': ['qty', 'line_count']" in out
    rc = runner.main(args + ["--maintain", "vacuum", "--vacuum-keep", "1"])
    assert rc == 0
    out = capsys.readouterr().out
    assert "'maintain': 'vacuum'" in out and "'removed_versions': [0, 1]" in out
    t = ParquetKeyedTable(str(tmp_path / "targets" / "target_daily_sales"), ["business_key"])
    assert t.current_version() == 2 and t.read(spark).count() > 0
    with pytest.raises(SystemExit, match="load it before maintaining"):
        runner.main(
            ["--query", "offers", "--target-root", troot, "--maintain", "vacuum"]
        )


def test_time_travel_reads(spark, tmp_path):
    """Every commit keeps its snapshot: read(version=N) addresses any
    past table state (the safety story behind destructive refreshes)."""
    t = ParquetKeyedTable(str(tmp_path / "tt"), ["k"])
    t.upsert(spark, spark.createDataFrame([Row(k="a", v=1)]))  # v0
    t.upsert(spark, spark.createDataFrame([Row(k="a", v=2)]))  # v1
    t.delete_keys(spark, spark.createDataFrame([Row(k="a")]))  # v2
    assert as_sorted_tuples(t.read(spark, version=0)) == [("a", 1)]
    assert as_sorted_tuples(t.read(spark, version=1)) == [("a", 2)]
    assert t.read(spark).count() == 0
    assert t.read(spark, version=99) is None


def test_asof_join_semantics(spark):
    """Backward as-of: greatest right ts <= left ts, equal ts matches,
    no earlier quote -> null."""
    from datetime import datetime

    from bw_new_data_integration_spark.operators.asof import asof_join

    T = lambda s: datetime.fromisoformat(s)  # noqa: E731
    quotes = spark.createDataFrame(
        [
            Row(k="u", ts=T("2024-01-01T10:00:00"), q=1.0),
            Row(k="u", ts=T("2024-01-01T11:00:00"), q=2.0),
        ]
    )
    probes = spark.createDataFrame(
        [
            Row(k="u", ts=T("2024-01-01T09:59:59"), pid=1),  # before any quote
            Row(k="u", ts=T("2024-01-01T10:00:00"), pid=2),  # equal ts -> q=1
            Row(k="u", ts=T("2024-01-01T10:30:00"), pid=3),  # between -> q=1
            Row(k="u", ts=T("2024-01-01T12:00:00"), pid=4),  # after last -> q=2
            Row(k="w", ts=T("2024-01-01T12:00:00"), pid=5),  # key with no quotes
        ]
    )
    out = {
        r["pid"]: r["asof_q"]
        for r in asof_join(probes, quotes, on=["k"], value_cols=["q"]).collect()
    }
    assert out == {1: None, 2: 1.0, 3: 1.0, 4: 2.0, 5: None}


def test_format_key_for_url_escapes_quotes():
    assert odata.format_key_for_url("O'Brien_20240101") == "O''Brien_20240101"
    assert odata.format_key_for_url("plain") == "plain"


from bw_new_data_integration_spark.sources.files import write_minimal_xlsx as _write_minimal_xlsx


def test_read_excel_stdlib_fallback(spark, tmp_path):
    """S8: the Excel source reads a real xlsx via the stdlib fallback —
    header row, inline strings, blank-row skipping, ragged rows."""
    from bw_new_data_integration_spark.sources import files

    p = str(tmp_path / "store_hours.xlsx")
    _write_minimal_xlsx(
        p,
        ["Store", "DayOfWeek", "Open", "Close"],
        [
            ["101", "Mon", "1100", "2300"],
            [None, None, None, None],  # blank row skipped
            ["102", "Tue", "9:30", None],  # ragged row padded
        ],
    )
    df = files.read_excel(spark, p)
    assert df.columns == ["Store", "DayOfWeek", "Open", "Close"]
    got = as_sorted_tuples(df)
    assert got == [("101", "Mon", "1100", "2300"), ("102", "Tue", "9:30", None)]


def _write_xlsx_zip(path, sheet_xml, shared_xml=None, workbook_pr=""):
    """Hand-built OOXML zip for reader-hardening fixtures (public
    SpreadsheetML features real exports carry: shared strings, rich
    text, 1904 date system, booleans, cached formula values)."""
    import zipfile

    with zipfile.ZipFile(path, "w") as z:
        z.writestr(
            "xl/workbook.xml",
            '<?xml version="1.0"?>'
            '<workbook xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main">'
            f"{workbook_pr}"
            '<sheets><sheet name="Sheet1" sheetId="1"/></sheets></workbook>',
        )
        if shared_xml is not None:
            z.writestr("xl/sharedStrings.xml", shared_xml)
        z.writestr(
            "xl/worksheets/sheet1.xml",
            '<?xml version="1.0"?>'
            '<worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main">'
            f"<sheetData>{sheet_xml}</sheetData></worksheet>",
        )


def test_read_excel_shared_strings_and_rich_text(spark, tmp_path):
    """S8 hardening (VERDICT r6 #10): real exports use sharedStrings —
    plain <si><t>, multi-run rich text (<si><r><t>…), and
    space-preserved runs — plus boolean cells and cached formula
    values. The stdlib reader must see what openpyxl would."""
    from bw_new_data_integration_spark.sources import files

    shared = (
        '<?xml version="1.0"?>'
        '<sst xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main" count="3" uniqueCount="3">'
        "<si><t>Store</t></si>"
        # rich text: two runs with formatting stripped, space preserved
        '<si><r><t xml:space="preserve">Main </t></r><r><t>Street</t></r></si>'
        "<si><t>Active</t></si>"
        "</sst>"
    )
    sheet = (
        '<row r="1"><c r="A1" t="s"><v>0</v></c><c r="B1" t="s"><v>2</v></c></row>'
        '<row r="2"><c r="A2" t="s"><v>1</v></c><c r="B2" t="b"><v>1</v></c></row>'
        # formula cell: reader takes the cached <v>, not the formula
        '<row r="3"><c r="A3"><f>SUM(1,2)</f><v>3</v></c><c r="B3" t="b"><v>0</v></c></row>'
    )
    p = str(tmp_path / "shared.xlsx")
    _write_xlsx_zip(p, sheet, shared_xml=shared)
    rows = files._read_xlsx_stdlib(p)
    assert rows == [
        ["Store", "Active"],
        ["Main Street", "TRUE"],
        ["3", "FALSE"],
    ]
    df = files.read_excel(spark, p)
    assert as_sorted_tuples(df) == [("3", "FALSE"), ("Main Street", "TRUE")]


def test_read_excel_1904_date_system(tmp_path):
    """The SAME serial maps to different dates under the two public
    date epochs; xlsx_date_system must read workbookPr and
    excel_serial_to_date must honor the 1900 leap-bug anchors."""
    import datetime

    from bw_new_data_integration_spark.sources import files

    sheet = '<row r="1"><c r="A1"><v>100</v></c></row>'
    p1900 = str(tmp_path / "w1900.xlsx")
    p1904 = str(tmp_path / "w1904.xlsx")
    _write_xlsx_zip(p1900, sheet)
    _write_xlsx_zip(p1904, sheet, workbook_pr='<workbookPr date1904="1"/>')
    assert files.xlsx_date_system(p1900) == 1900
    assert files.xlsx_date_system(p1904) == 1904

    serial = files._read_xlsx_stdlib(p1904)[0][0]
    assert serial == "100"
    assert files.excel_serial_to_date(serial, 1904) == datetime.date(1904, 4, 10)
    assert files.excel_serial_to_date(serial, 1900) == datetime.date(1900, 4, 9)
    # 1900-system anchors around the phantom leap day
    assert files.excel_serial_to_date(1, 1900) == datetime.date(1900, 1, 1)
    assert files.excel_serial_to_date(59, 1900) == datetime.date(1900, 2, 28)
    assert files.excel_serial_to_date(60, 1900) is None  # 1900-02-29 never existed
    assert files.excel_serial_to_date(61, 1900) == datetime.date(1900, 3, 1)
    assert files.excel_serial_to_date(0, 1904) == datetime.date(1904, 1, 1)
    assert files.excel_serial_to_date(None, 1900) is None
    assert files.excel_serial_to_date("36892.75", 1900) == datetime.date(2001, 1, 1)
    # out-of-domain serials are dirty values, not plausible 1899 dates
    assert files.excel_serial_to_date(0, 1900) is None  # Excel's fake "1/0/1900"
    assert files.excel_serial_to_date(-5, 1900) is None
    assert files.excel_serial_to_date(-1, 1904) is None


def test_partition_scoped_upsert_leaves_untouched_partitions_byte_identical(spark, tmp_path):
    """When partition_by ⊆ key_cols, a merge must only rewrite the
    partitions present in the source; every other partition's files are
    carried forward as hard links to the previous snapshot — the
    O(window) commit the reference's 14-day trailing sync implies
    (truenas cron: daily incremental never touches history)."""
    import os

    t = ParquetKeyedTable(str(tmp_path / "pt"), ["d", "k"], partition_by=["d"])
    base = spark.createDataFrame(
        [Row(d="2024-01-01", k="a", v=1), Row(d="2024-01-02", k="b", v=2),
         Row(d="2024-01-03", k="c", v=3)]
    )
    t.upsert(spark, base)
    v0 = t.current_version()

    def part_files(v, part):
        pdir = os.path.join(t._snapshot_dir(v), f"d={part}")
        return sorted(
            os.path.join(pdir, f) for f in os.listdir(pdir) if not f.startswith(("_", "."))
        )

    patch = spark.createDataFrame([Row(d="2024-01-02", k="b", v=20),
                                   Row(d="2024-01-02", k="b2", v=21)])
    t.upsert(spark, patch)
    v1 = t.current_version()
    assert v1 == v0 + 1
    # untouched partitions: same inode (hard link), byte-identical
    for part in ("2024-01-01", "2024-01-03"):
        old, new = part_files(v0, part), part_files(v1, part)
        assert [os.path.basename(p) for p in old] == [os.path.basename(p) for p in new]
        for o, n in zip(old, new):
            assert os.path.samefile(o, n), (o, n)
    # merged content is the full-table merge result
    got = {(str(r["d"]), r["k"]): r["v"] for r in t.read(spark).collect()}
    assert got == {
        ("2024-01-01", "a"): 1, ("2024-01-02", "b"): 20,
        ("2024-01-02", "b2"): 21, ("2024-01-03", "c"): 3,
    }
    # time travel still sees the pre-merge state
    assert {(str(r["d"]), r["k"]): r["v"] for r in t.read(spark, version=v0).collect()} == {
        ("2024-01-01", "a"): 1, ("2024-01-02", "b"): 2, ("2024-01-03", "c"): 3,
    }


def test_range_scoped_upsert_links_untouched_files(spark, tmp_path):
    """VERDICT r7 #2: a range-clustered (unpartitioned) table merges a
    narrow-key batch by rewriting ONLY the files whose key range
    intersects the batch; every other file is carried forward as a hard
    link, and the result is row-identical to a full-table merge."""
    import os

    t = ParquetKeyedTable(str(tmp_path / "rt"), ["business_key"])
    base = spark.createDataFrame(
        [Row(business_key=f"k{i:04d}", v=i) for i in range(2000)]
    )
    t.upsert(spark, base)
    assert t.manifest()["cluster"] == "range"
    # right-size into enough files for scoping to show
    t.compact(spark, target_file_bytes=2048)
    v0 = t.current_version()
    m0 = t.manifest(v0)
    assert m0["n_files"] >= 8
    # every file carries key bounds (the persisted range bounds)
    bounds = [
        (f["stats"]["business_key"]["min"], f["stats"]["business_key"]["max"])
        for f in m0["files"]
    ]
    assert all(mn <= mx for mn, mx in bounds)
    # initial-load + compact layout: file ranges are pairwise disjoint
    ordered = sorted(bounds)
    assert all(a[1] < b[0] for a, b in zip(ordered, ordered[1:]))

    patch = spark.createDataFrame(
        [Row(business_key="k0100", v=-100), Row(business_key="k0101", v=-101),
         Row(business_key="zzz_new", v=9999)]
    )
    t.upsert(spark, patch)
    v1 = t.current_version()
    m1 = t.manifest(v1)
    assert m1["operation"] == "range_upsert"
    # almost everything linked; at most the touched file(s) rewritten
    assert m1["n_linked"] >= m0["n_files"] - 2
    linked = [f for f in m1["files"] if f["linked"]]
    for f in linked:  # byte-identical carry-forward, stats inherited
        assert os.path.samefile(
            os.path.join(t._snapshot_dir(v0), f["path"]),
            os.path.join(t._snapshot_dir(v1), f["path"]),
        )
        assert "stats" in f
    got = {r["business_key"]: r["v"] for r in t.read(spark).collect()}
    want = {f"k{i:04d}": i for i in range(2000)}
    want.update({"k0100": -100, "k0101": -101, "zzz_new": 9999})
    assert got == want
    # idempotent: the same batch again changes nothing
    t.upsert(spark, patch)
    assert {r["business_key"]: r["v"] for r in t.read(spark).collect()} == want
    # time travel unaffected
    assert t.read(spark, version=v0).count() == 2000


def test_range_scoped_insert_only_batch_links_everything(spark, tmp_path):
    """A batch whose keys fall outside every file's range (pure append)
    must not read or rewrite ANY existing file."""
    import os

    t = ParquetKeyedTable(str(tmp_path / "rt2"), ["business_key"])
    t.upsert(spark, spark.createDataFrame(
        [Row(business_key=f"b{i:03d}", v=i) for i in range(500)]
    ))
    t.compact(spark, target_file_bytes=2048)
    v0, m0 = t.current_version(), t.manifest()
    assert m0["n_files"] >= ParquetKeyedTable.MIN_SCOPED_FILES
    t.upsert(spark, spark.createDataFrame(
        [Row(business_key=f"z{i:03d}", v=i) for i in range(5)]
    ))
    m1 = t.manifest()
    assert m1["operation"] == "range_upsert"
    assert m1["n_linked"] == m0["n_files"]  # every old file carried forward
    assert t.read(spark).count() == 505
    # and a second merge over the now-gappy layout still matches a full
    # merge (overlap/gap structure is probed exactly, never assumed)
    t.upsert(spark, spark.createDataFrame(
        [Row(business_key="b250", v=-1), Row(business_key="z002", v=-2)]
    ))
    got = {r["business_key"]: r["v"] for r in t.read(spark).collect()}
    assert got["b250"] == -1 and got["z002"] == -2 and len(got) == 505


def test_apply_changes_combined_commit_equals_sequential(spark, tmp_path):
    """``apply_changes(source, dead_keys)`` must equal
    ``delete_keys(dead_keys); upsert(source)`` — including a key in
    BOTH sides (the source row wins) — while paying ONE commit on the
    combined (range-clustered COW) path and linking untouched files."""
    import os

    def mk(name, **kw):
        t = ParquetKeyedTable(str(tmp_path / name), ["business_key"], **kw)
        t.upsert(spark, spark.createDataFrame(
            [Row(business_key=f"k{i:04d}", v=i) for i in range(1000)]
        ))
        t.compact(spark, target_file_bytes=2048)
        return t

    dead = spark.createDataFrame(
        [Row(business_key=f"k{i:04d}") for i in range(100, 140)]
    )
    # k0130..k0139 in BOTH: deleted then re-upserted -> source wins
    src = spark.createDataFrame(
        [Row(business_key=f"k{i:04d}", v=-i) for i in range(130, 180)]
        + [Row(business_key="new_a", v=1), Row(business_key="new_b", v=2)]
    )
    want = {f"k{i:04d}": i for i in range(1000)}
    for i in range(100, 140):
        del want[f"k{i:04d}"]
    want.update({f"k{i:04d}": -i for i in range(130, 180)})
    want.update({"new_a": 1, "new_b": 2})

    # combined path: one version bump, untouched files linked
    t = mk("ac")
    m0, v0 = t.manifest(), t.current_version()
    assert m0["n_files"] >= ParquetKeyedTable.MIN_SCOPED_FILES
    t.apply_changes(spark, src, dead)
    v1, m1 = t.current_version(), t.manifest()
    assert v1 == v0 + 1, "combined path must commit exactly once"
    assert m1["operation"] == "apply_changes"
    assert m1["n_linked"] > 0  # narrow churn: most files carried forward
    linked = [f for f in m1["files"] if f["linked"]]
    for f in linked[:3]:
        assert os.path.samefile(
            os.path.join(t._snapshot_dir(v0), f["path"]),
            os.path.join(t._snapshot_dir(v1), f["path"]),
        )
    assert {r["business_key"]: r["v"] for r in t.read(spark).collect()} == want

    # sequential reference on a twin table: same final rows
    s = mk("seq")
    s.delete_keys(spark, dead)
    s.upsert(spark, src)
    assert {r["business_key"]: r["v"] for r in s.read(spark).collect()} == want

    # small table (below MIN_SCOPED_FILES): still ONE commit, same rows
    t2 = ParquetKeyedTable(str(tmp_path / "ac_small"), ["business_key"])
    t2.upsert(spark, spark.createDataFrame(
        [Row(business_key=f"k{i:04d}", v=i) for i in range(50)]
    ))
    t2.compact(spark)  # one file: below the probe threshold
    assert t2.manifest()["n_files"] < ParquetKeyedTable.MIN_SCOPED_FILES
    v0 = t2.current_version()
    t2.apply_changes(
        spark,
        spark.createDataFrame([Row(business_key="k0005", v=-5)]),
        spark.createDataFrame([Row(business_key="k0001"),
                               Row(business_key="k0005")]),
    )
    assert t2.current_version() == v0 + 1
    got = {r["business_key"]: r["v"] for r in t2.read(spark).collect()}
    assert "k0001" not in got and got["k0005"] == -5 and len(got) == 49

    # MoR table: identical final rows
    t3 = ParquetKeyedTable(str(tmp_path / "ac_mor"), ["business_key"],
                           write_mode="mor")
    t3.upsert(spark, spark.createDataFrame(
        [Row(business_key=f"k{i:04d}", v=i) for i in range(1000)]
    ))
    t3.apply_changes(spark, src, dead)
    assert {r["business_key"]: r["v"] for r in t3.read(spark).collect()} == want


def test_apply_changes_change_feed_replay(spark, tmp_path):
    """On a change_feed table the combined commit's change feed must
    be indistinguishable from the sequential pair's: the netted
    ``changes()`` over the span is compared row-for-row against a twin
    table that ran ``delete_keys`` then ``upsert``."""
    def mk(name):
        t = ParquetKeyedTable(str(tmp_path / name), ["business_key"],
                              change_feed=True)
        t.upsert(spark, spark.createDataFrame(
            [Row(business_key=f"k{i:02d}", v=i) for i in range(30)]
        ))
        t.compact(spark, target_file_bytes=1024)
        return t

    dead = spark.createDataFrame([Row(business_key="k01"),
                                  Row(business_key="k02")])
    src = spark.createDataFrame([Row(business_key="k02", v=-2),
                                 Row(business_key="k05", v=-5),
                                 Row(business_key="zz", v=99)])
    t = mk("cf")
    v0 = t.current_version()
    t.apply_changes(spark, src, dead)
    assert t.current_version() == v0 + 1  # ONE commit
    s = mk("cf_seq")
    s.delete_keys(spark, dead)
    s.upsert(spark, src)
    assert s.current_version() == v0 + 2  # the pair it must match

    def feed(tbl):
        return sorted(
            (r["business_key"], r["v"], r["_change_type"])
            for r in tbl.changes(spark, v0)
            .select("business_key", "v", "_change_type").collect()
        )

    assert feed(t) == feed(s)  # identical netted change feed
    rows = lambda tbl: sorted(  # noqa: E731
        (r["business_key"], r["v"]) for r in tbl.read(spark).collect()
    )
    assert rows(t) == rows(s)
    got = dict(rows(t))
    assert "k01" not in got and got["k02"] == -2 and got["k05"] == -5
    assert got["zz"] == 99 and len(got) == 30  # 30 - 2 dead + k02 back + zz


_LAYOUTS = {
    "range_cow": {},
    "unclustered": {"cluster": "none"},
    "hive": {"partition_by": ["p"]},
    "mor": {"write_mode": "mor"},
    "hive_mor": {"partition_by": ["p"], "write_mode": "mor"},
    "mor_to_cow": {"write_mode": "mor"},  # reopened as cow, tombstones live
}


@pytest.mark.parametrize("layout", list(_LAYOUTS))
def test_apply_changes_is_one_commit_on_every_layout(spark, tmp_path, layout):
    """``apply_changes(src, dead)`` is ONE commit on every layout: the
    version advances by exactly 1, the caller's txn marker lands on
    that version, the rows equal a ``delete_keys`` + ``upsert`` twin,
    and the per-commit change feed nets to the same state change."""
    kw = _LAYOUTS[layout]
    keys = ["p", "k"] if "partition_by" in kw else ["k"]

    def rows(ks, v):
        return spark.createDataFrame(
            [(k % 4, k, float(v(k))) for k in ks], "p int, k int, v double"
        )

    def mk(name):
        t = ParquetKeyedTable(str(tmp_path / name), keys, change_feed=True, **kw)
        t.upsert(spark, rows(range(200), lambda k: k))
        t.compact(spark, target_file_bytes=1024)
        if layout == "mor_to_cow":
            t.upsert(spark, rows(range(0, 200, 9), lambda k: -k))  # tombstones
            t = ParquetKeyedTable(
                t.path, keys, change_feed=True, write_mode="cow"
            )
            assert t.manifest()["tombstones"]
        return t

    dead = rows([*range(40, 60), 999], lambda k: 0).select(*keys)
    # 50..59 in BOTH sides (the upsert wins); 300/301 are new keys
    src = rows([*range(50, 70), 300, 301], lambda k: 1000 + k)

    def state(t):
        return {tuple(r[c] for c in keys): r["v"] for r in t.read(spark).collect()}

    t, twin = mk("t"), mk("twin")
    v0 = t.current_version()
    before = state(t)
    if layout in ("range_cow", "hive"):  # enough files for the scope to show
        assert t.manifest()["n_files"] >= ParquetKeyedTable.MIN_SCOPED_FILES
    t.set_commit_txn({"app": "ac", "n": 1})
    t.apply_changes(spark, src, dead)
    assert t.current_version() == v0 + 1
    assert t.manifest()["txn"] == {"app": "ac", "n": 1}
    assert t.last_txn("ac") == {"app": "ac", "n": 1}
    twin.delete_keys(spark, dead)
    twin.upsert(spark, src)
    assert state(t) == state(twin)
    assert len(state(t)) == 200 - 20 + 10 + 2

    def net(tbl):
        # fold the per-commit feed over the starting state: within a
        # commit, a key's delete precedes its re-insert
        out = dict(before)
        feed = tbl.commit_changes(spark, v0).collect()
        late = ("insert", "update_postimage")
        for r in sorted(feed, key=lambda r: (r["_commit_version"], r["_change_type"] in late)):
            key = tuple(r[c] for c in keys)
            if r["_change_type"] == "delete":
                del out[key]
            elif r["_change_type"] in ("insert", "update_postimage"):
                out[key] = r["v"]
        return out

    assert net(t) == net(twin) == state(t)


def test_range_scoped_delete_links_untouched_files(spark, tmp_path):
    """Mass delete on a range-clustered table rewrites only the files
    whose key range intersects the delete set; a provably-no-match
    delete still advances the version (CDF/time-travel contract) but
    links every file forward."""
    t = ParquetKeyedTable(str(tmp_path / "rd"), ["business_key"])
    t.upsert(spark, spark.createDataFrame(
        [Row(business_key=f"k{i:04d}", v=i) for i in range(1000)]
    ))
    t.compact(spark, target_file_bytes=2048)
    m0 = t.manifest()
    assert m0["n_files"] >= ParquetKeyedTable.MIN_SCOPED_FILES
    t.delete_keys(spark, spark.createDataFrame(
        [Row(business_key="k0010"), Row(business_key="k0011")]
    ))
    m1 = t.manifest()
    assert m1["operation"] == "range_delete"
    assert m1["n_linked"] >= m0["n_files"] - 2  # narrow delete: 1-2 files rewritten
    assert t.read(spark).count() == 998
    got = {r["business_key"] for r in t.read(spark).collect()}
    assert "k0010" not in got and "k0011" not in got and "k0012" in got
    # no-match delete: new version, zero rewrites, identical data
    v_before = t.current_version()
    t.delete_keys(spark, spark.createDataFrame([Row(business_key="zzz_absent")]))
    m2 = t.manifest()
    assert t.current_version() == v_before + 1
    assert m2["operation"] == "range_delete"
    assert m2["n_linked"] == m2["n_files"]  # everything carried forward
    assert t.read(spark).count() == 998


def test_range_scoped_upsert_long_and_null_keys(spark, tmp_path):
    """Range-layout edges: (a) keys past the 1 KiB stats threshold get
    NO usable footer bounds — those files must fall into the
    always-merged set, never be wrongly skipped; (b) null keys ride the
    range exchange (first partition), never match any source key, and
    survive scoped merges unduplicated."""
    t = ParquetKeyedTable(str(tmp_path / "rl"), ["business_key"])
    long_suffix = "x" * 1200  # > _stat_tag's 1 KiB exactness threshold
    rows = [Row(business_key=f"k{i:03d}{long_suffix}", v=i) for i in range(200)]
    rows.append(Row(business_key=None, v=-1))
    t.upsert(spark, spark.createDataFrame(rows))
    t.compact(spark, target_file_bytes=2048)  # repeated-char keys compress hard
    m = t.manifest()
    assert m["n_files"] >= ParquetKeyedTable.MIN_SCOPED_FILES
    # no file carries usable key bounds (strings too long / null row)
    assert all(
        (f.get("stats") or {}).get("business_key") is None
        or (f["stats"]["business_key"].get("min") is None)
        for f in m["files"]
    )
    # scoped merge must therefore treat every file as touched (correct,
    # just unscoped) — values still exactly right
    t.upsert(spark, spark.createDataFrame(
        [Row(business_key=f"k005{long_suffix}", v=-5)]
    ))
    got = {r["business_key"]: r["v"] for r in t.read(spark).collect()}
    assert got[f"k005{long_suffix}"] == -5
    assert got[None] == -1 and len(got) == 201
    # null-key row is not duplicated by a further merge
    t.upsert(spark, spark.createDataFrame(
        [Row(business_key=f"k006{long_suffix}", v=-6)]
    ))
    nulls = t.read(spark).where(F.col("business_key").isNull()).count()
    assert nulls == 1


def test_pin_routes_by_plan_kind(spark):
    """The pre-write pin's safety routing: plans with Python-eval nodes
    (the only side-effect channel) MUST pin; pure-JVM plans must not
    (re-sampling them is side-effect-free and cheaper than a disk
    round-trip)."""
    from bw_new_data_integration_spark.sources.parquet_target import _has_python_eval

    pure = spark.range(100).groupBy((F.col("id") % 3).alias("g")).count()
    assert not _has_python_eval(pure)

    def identity(batches):
        yield from batches

    py = spark.range(100).select(F.col("id")).mapInPandas(identity, "id long")
    assert _has_python_eval(py)
    # and a JVM projection ABOVE a python node still pins
    assert _has_python_eval(py.select((F.col("id") * 2).alias("id")))


def test_range_scoped_upsert_composite_key(spark, tmp_path):
    """Composite business keys scope on the FIRST key column's bounds —
    a sufficient condition (no source first-key value in a file's
    first-key interval ⇒ no tuple can match). The merge itself joins
    on the FULL key, so same-first-key/different-second-key rows are
    inserts, not updates."""
    t = ParquetKeyedTable(str(tmp_path / "ck"), ["store", "day"])
    t.upsert(spark, spark.createDataFrame(
        [Row(store=f"s{i % 20:02d}", day=f"2024-01-{1 + i // 20:02d}", v=i)
         for i in range(600)]
    ))
    t.compact(spark, target_file_bytes=2048)
    m0 = t.manifest()
    assert m0["n_files"] >= ParquetKeyedTable.MIN_SCOPED_FILES
    patch = spark.createDataFrame(
        [Row(store="s05", day="2024-01-03", v=-1),     # update (key exists)
         Row(store="s05", day="2024-09-09", v=-2)]     # insert (new second key)
    )
    t.upsert(spark, patch)
    m1 = t.manifest()
    assert m1["operation"] == "range_upsert"
    assert m1["n_linked"] >= m0["n_files"] // 2  # scoped, not full rewrite
    got = {(r["store"], r["day"]): r["v"] for r in t.read(spark).collect()}
    assert got[("s05", "2024-01-03")] == -1
    assert got[("s05", "2024-09-09")] == -2
    assert len(got) == 601
    # scoped delete on the composite key
    t.delete_keys(spark, spark.createDataFrame([Row(store="s06", day="2024-01-03")]))
    m2 = t.manifest()
    assert m2["operation"] == "range_delete"
    assert t.read(spark).count() == 600
    assert ("s06", "2024-01-03") not in {
        (r["store"], r["day"]) for r in t.read(spark).collect()
    }


def test_range_scoping_and_pruning_on_timestamp_keys(spark, tmp_path):
    """Timestamp business keys get real data skipping: INT64-micros
    writes carry footer min/max (legacy INT96 had none), stats and kb
    bounds are stored UTC-NAIVE so they compare cleanly with naive
    probe/predicate values (a mixed aware/naive comparison would raise
    and silently disable every skip path). Pins both the range-scoped
    merge on a (ts, str) composite key and read_where pruning on a ts
    predicate."""
    import datetime as _dt

    t = ParquetKeyedTable(str(tmp_path / "tsk"), ["event_hour", "event_type"])
    rows = spark.range(0, 24 * 60).select(
        (F.lit("2024-01-01 00:00:00").cast("timestamp")
         + F.make_interval(hours=(F.col("id") % 720).cast("int"))).alias("event_hour"),
        F.when(F.col("id") % 2 == 0, "click").otherwise("view").alias("event_type"),
        F.col("id").alias("n"),
    ).dropDuplicates(["event_hour", "event_type"])
    t.upsert(spark, rows)
    t.compact(spark, target_file_bytes=2048)
    m0 = t.manifest()
    assert m0["n_files"] >= ParquetKeyedTable.MIN_SCOPED_FILES
    # ts footer stats exist and are tz-naive encoded
    st = m0["files"][0]["stats"]["event_hour"]
    assert st["t"] == "ts" and "+" not in st["min"]
    assert all("kb" in f for f in m0["files"])

    # a one-hour patch must touch ~1 file, not the month
    patch = spark.createDataFrame(
        [(_dt.datetime(2024, 1, 10, 12, 0), "click", -1)],
        "event_hour timestamp, event_type string, n bigint",
    )
    t.upsert(spark, patch)
    m1 = t.manifest()
    assert m1["operation"] == "range_upsert"
    assert m1["n_linked"] >= m0["n_files"] - 2, (
        f"ts-key scoping must link nearly all of {m0['n_files']} files, "
        f"linked {m1['n_linked']}"
    )
    got = t.read(spark).where(
        (F.col("event_hour") == F.lit("2024-01-10 12:00:00").cast("timestamp"))
        & (F.col("event_type") == "click")
    ).collect()
    assert [r["n"] for r in got] == [-1]

    # read_where prunes files on a naive ts predicate
    _, rep = t.read_where(
        spark,
        [("event_hour", "between",
          (_dt.datetime(2024, 1, 10, 0, 0), _dt.datetime(2024, 1, 10, 23, 0)))],
        with_report=True,
    )
    assert rep["files_skipped"] > 0
    assert rep["files_read"] < rep["files_total"]


def test_cluster_layout_adopted_from_persisted_manifest(spark, tmp_path):
    """Reopening an existing table WITHOUT an explicit cluster argument
    adopts the persisted layout: a table written cluster='none' must
    not silently flip to range-scoped merges (whose manifests would
    claim a layout the older files don't satisfy). An explicit
    mismatching argument is honored as a deliberate migration, with a
    warning."""
    import warnings as _w

    p = str(tmp_path / "adopt")
    t0 = ParquetKeyedTable(p, ["k"], cluster="none")
    t0.overwrite(spark.createDataFrame([Row(k=i, v=i) for i in range(50)]))
    assert t0.manifest()["cluster"] == "none"
    # default reopen adopts the persisted layout
    t1 = ParquetKeyedTable(p, ["k"])
    assert t1.cluster == "none"
    t1.upsert(spark, spark.createDataFrame([Row(k=1, v=-1)]))
    assert t1.manifest()["cluster"] == "none"
    # explicit mismatch: honored, but warned
    with _w.catch_warnings(record=True) as caught:
        _w.simplefilter("always")
        t2 = ParquetKeyedTable(p, ["k"], cluster="range")
    assert t2.cluster == "range"
    assert any("persisted layout" in str(w.message) for w in caught)
    # a fresh path stays on the unpartitioned default (range)
    assert ParquetKeyedTable(str(tmp_path / "new"), ["k"]).cluster == "range"


def test_range_scoped_upsert_tuple_bounds_shared_leading_key(spark, tmp_path):
    """Tuple-boundary scoping (VERDICT r8 #3): when many composite keys
    share ONE leading value (a hot store across (store, day) keys), the
    leading column's interval covers every file, but the manifest's
    lexicographic key-tuple bounds (kb: first/last row of each
    key-sorted file) discriminate on the minor column — a one-key patch
    rewrites only the file(s) whose day-range contains it. Proven
    in-query by comparing against the same patch with kb stripped from
    the manifest (footer-fallback probing), which touches every file."""
    import json as _json

    t = ParquetKeyedTable(str(tmp_path / "hot"), ["store", "day"])
    t.upsert(spark, spark.createDataFrame(
        [Row(store="hot", day=f"2024-{1 + i // 31:02d}-{1 + i % 31:02d}", v=i)
         for i in range(600)]
    ))
    t.compact(spark, target_file_bytes=2048)
    m0 = t.manifest()
    n_files = m0["n_files"]
    assert n_files >= 6
    # every compacted file carries exact tuple bounds
    assert all("kb" in f for f in m0["files"])
    # all files share the single leading value: leading-interval probing
    # cannot discriminate between them
    assert all(f["kb"]["lo"][0] == "hot" and f["kb"]["hi"][0] == "hot"
               for f in m0["files"])

    patch = spark.createDataFrame([Row(store="hot", day="2024-03-15", v=-1)])
    t.upsert(spark, patch)
    m1 = t.manifest()
    assert m1["operation"] == "range_upsert"
    # tuple bounds: only the file(s) covering day 2024-03-15 rewritten
    assert m1["n_linked"] >= n_files - 2, (
        f"tuple scoping should link nearly all of {n_files} files, "
        f"linked only {m1['n_linked']}"
    )
    got = {(r["store"], r["day"]): r["v"] for r in t.read(spark).collect()}
    assert got[("hot", "2024-03-15")] == -1
    assert len(got) == 600

    # CONTROL: strip kb from the current manifest -> the probe falls
    # back to the leading-column footer interval, which intersects every
    # file, so the same one-key patch rewrites everything
    mpath = os.path.join(t._snapshot_dir(t.current_version()), "_manifest.json")
    with open(mpath) as fh:
        man = _json.load(fh)
    for f in man["files"]:
        f.pop("kb", None)
    with open(mpath, "w") as fh:
        _json.dump(man, fh)
    n_before = man["n_files"]
    t.upsert(spark, spark.createDataFrame([Row(store="hot", day="2024-03-16", v=-2)]))
    m2 = t.manifest()
    assert m2["operation"] == "range_upsert"
    assert m2["n_linked"] == 0, (
        "leading-only fallback cannot skip any shared-leading-key file "
        f"(expected 0 linked of {n_before}, got {m2['n_linked']})"
    )
    # and values stay correct under the coarser probe
    got = {(r["store"], r["day"]): r["v"] for r in t.read(spark).collect()}
    assert got[("hot", "2024-03-16")] == -2
    assert got[("hot", "2024-03-15")] == -1


def test_maybe_compact_policy(spark, tmp_path):
    """Auto-compaction: repeated range-scoped merges fragment the
    layout (each commit adds rewritten-range files while linking the
    rest); maybe_compact re-tightens it once the manifest crosses the
    file-count or small-file policy, and is a manifest-only no-op
    while the layout is within policy."""
    t = ParquetKeyedTable(str(tmp_path / "ac"), ["business_key"])
    t.upsert(spark, spark.createDataFrame(
        [Row(business_key=f"k{i:04d}", v=i) for i in range(1000)]
    ))
    t.compact(spark, target_file_bytes=4096)
    base_files = t.manifest()["n_files"]
    # within policy: no-op, no new version (small-file rule disabled —
    # every file of this fixture-sized table is "small" by the 8 MB
    # production default, which is the rule working as intended)
    v = t.current_version()
    assert t.maybe_compact(spark, max_files=base_files + 100, small_file_bytes=1) is None
    assert t.current_version() == v
    # fragment the table: narrow UPDATES replace files 1:1 (the scoped
    # merge keeps the count stable), but pure APPEND batches (keys
    # outside every range) link everything and add a file per commit —
    # the incremental-ingest shape
    for i in range(6):
        t.upsert(spark, spark.createDataFrame(
            [Row(business_key=f"z{i:04d}", v=i)]
        ))
    frag = t.manifest()
    assert frag["n_files"] > base_files  # append ranges added files
    new_v = t.maybe_compact(
        spark, max_files=base_files, small_file_bytes=1, target_file_bytes=64 << 10
    )
    assert new_v is not None and t.manifest(new_v)["operation"] == "compact"
    assert t.manifest(new_v)["n_files"] < frag["n_files"]
    got = {r["business_key"]: r["v"] for r in t.read(spark).collect()}
    want = {f"k{i:04d}": i for i in range(1000)}
    want.update({f"z{i:04d}": i for i in range(6)})
    assert got == want
    # compacted range layout: file ranges disjoint again, pruning works
    _, rep = t.read_where(
        spark, [("business_key", "=", "k0500")], with_report=True
    )
    assert rep["files_skipped"] >= rep["files_total"] - 2


def test_partition_scoped_upsert_empty_batch_is_noop(spark, tmp_path):
    t = ParquetKeyedTable(str(tmp_path / "pt2"), ["d", "k"], partition_by=["d"])
    t.upsert(spark, spark.createDataFrame([Row(d="2024-01-01", k="a", v=1)]))
    v = t.current_version()
    empty = spark.createDataFrame([], "d string, k string, v bigint")
    t.upsert(spark, empty)
    assert t.current_version() == v


def test_strict_upsert_rejects_duplicate_business_keys(spark, tmp_path):
    """K5 semantic parity with the Dataverse alternate-key constraint:
    an ambiguous batch (duplicate keys, no order_by) must be rejected,
    not silently collapsed."""
    t = ParquetKeyedTable(str(tmp_path / "strictkeys"), ["k"])
    dup = spark.createDataFrame([Row(k="a", v=1), Row(k="a", v=2), Row(k="b", v=3)])
    with pytest.raises(ValueError, match="duplicate business keys"):
        t.upsert(spark, dup, strict=True)
    # the in-plan assertion fired mid-write: the rejected commit's
    # partial snapshot dir must not linger
    assert not os.path.exists(t._snapshot_dir(t.current_version() + 1))
    # with order_by the ambiguity is resolved and strict is satisfied
    seq = spark.createDataFrame([Row(k="a", v=1, seq=1), Row(k="a", v=2, seq=2)])
    t.upsert(spark, seq, order_by=["seq"], strict=True)
    assert {r["k"]: r["v"] for r in t.read(spark).collect()} == {"a": 2}
    # a unique batch passes the in-plan assertion untouched (no probe
    # column leaks into the table, merge proceeds in the same job)
    ok = spark.createDataFrame([Row(k="b", v=9, seq=1), Row(k="c", v=10, seq=2)])
    t.upsert(spark, ok, strict=True)
    snap = t.read(spark)
    assert set(snap.columns) == {"k", "v", "seq"}
    assert {r["k"]: r["v"] for r in snap.collect()} == {"a": 2, "b": 9, "c": 10}


def test_manifest_rows_written_and_volume_anomalies(spark, tmp_path):
    """Commit manifests record rows written by the commit's own write
    job (observe(), no rescan); volume_anomalies flags deviant loads
    against the median of prior commits."""
    t = ParquetKeyedTable(str(tmp_path / "vol"), ["k"])
    for i in range(4):  # four steady ~100-row full refreshes
        t.overwrite(
            spark.range(0, 100 + i).select(F.col("id").alias("k"), F.lit(i).alias("v"))
        )
    assert t.manifest(0)["rows_written"] == 100
    assert t.volume_anomalies() == []
    # an empty-ish load (5 rows) and a 10x load both get flagged
    t.overwrite(spark.range(0, 5).select(F.col("id").alias("k"), F.lit(9).alias("v")))
    t.overwrite(spark.range(0, 1500).select(F.col("id").alias("k"), F.lit(9).alias("v")))
    flagged = t.volume_anomalies()
    assert [f["version"] for f in flagged] == [4, 5]
    assert flagged[0]["rows_written"] < flagged[0]["median_before"]
    assert flagged[1]["ratio"] > 3.0
    # a keyed upsert's rows_written is the merge output it rewrote
    t.upsert(spark, spark.createDataFrame([Row(k=1, v=99)]))
    assert t.manifest()["rows_written"] == 1500


def test_vacuum_reclaims_only_unshared_bytes(spark, tmp_path):
    """VACUUM analogue: old versions are deleted, the survivors keep
    working, and hard-link sharing means bytes common to surviving
    snapshots are never lost — only storage unique to removed versions
    goes away."""
    t = ParquetKeyedTable(str(tmp_path / "vac"), ["d", "k"], partition_by=["d"])
    t.overwrite(
        spark.createDataFrame(
            [Row(d="2024-01-01", k="a", v=1), Row(d="2024-01-02", k="b", v=2)]
        )
    )
    for day, val in [("2024-01-02", 20), ("2024-01-03", 3), ("2024-01-03", 30)]:
        t.upsert(spark, spark.createDataFrame([Row(d=day, k="x", v=val)]))
    assert t.current_version() == 3
    removed = t.vacuum(keep_last=2)
    assert removed == [0, 1]
    assert not os.path.isdir(t._snapshot_dir(0))
    assert not os.path.isdir(t._snapshot_dir(1))
    # survivors intact, including partitions that were only ever
    # hard-linked forward from vacuumed versions
    latest = {(str(r["d"]), r["k"]): r["v"] for r in t.read(spark).collect()}
    assert latest == {
        ("2024-01-01", "a"): 1,
        ("2024-01-02", "b"): 2,
        ("2024-01-02", "x"): 20,
        ("2024-01-03", "x"): 30,
    }
    prev = {(str(r["d"]), r["k"]): r["v"] for r in t.read(spark, version=2).collect()}
    assert ("2024-01-01", "a") in prev
    with pytest.raises(ValueError, match="keep_last"):
        t.vacuum(keep_last=0)


def test_delta_log_export_after_vacuum_still_opens_with_protocol(spark, tmp_path):
    """After vacuum removes v=0, the exported log's earliest surviving
    entry must still open with protocol + metaData (a Delta reader
    rejects a log with no protocol action), and its adds must replay to
    the surviving snapshot."""
    t = ParquetKeyedTable(str(tmp_path / "dvac"), ["k"])
    for i in range(4):
        t.overwrite(spark.createDataFrame([Row(k="a", v=i), Row(k="b", v=i * 10)]))
    # stale-entry reconciliation: a pre-vacuum export leaves entries for
    # versions whose snapshots are about to be deleted; the re-export
    # must clear them or replay-from-0 resolves deleted files
    t.export_delta_log(spark)
    t.vacuum(keep_last=2)
    log_dir = t.export_delta_log(spark)
    jsons = sorted(f for f in os.listdir(log_dir) if f.endswith(".json"))
    assert jsons == ["00000000000000000002.json", "00000000000000000003.json"]
    with open(os.path.join(log_dir, jsons[0])) as fh:
        first = [json.loads(line) for line in fh]
    assert any("protocol" in a for a in first)
    assert any("metaData" in a for a in first)
    assert not any("remove" in a for a in first)  # nothing precedes it
    adds = [a["add"]["path"] for a in first if "add" in a]
    got = spark.read.parquet(*[os.path.join(t.path, _unquote(p)) for p in adds])
    assert sorted(map(tuple, got.collect())) == sorted(
        map(tuple, t.read(spark, version=2).collect())
    )
    # truncated-log readability: a parquet checkpoint must exist at (or
    # before) the earliest delta, plus _last_checkpoint naming the
    # newest one — the Delta protocol's mechanism for logs that no
    # longer start at version 0
    cps = sorted(f for f in os.listdir(log_dir) if f.endswith(".checkpoint.parquet"))
    assert cps == [
        "00000000000000000002.checkpoint.parquet",
        "00000000000000000003.checkpoint.parquet",
    ]
    with open(os.path.join(log_dir, "_last_checkpoint")) as fh:
        last_cp = json.load(fh)
    assert last_cp["version"] == 3
    cp = spark.read.parquet(os.path.join(log_dir, cps[0])).collect()
    assert sum(1 for r in cp if r["protocol"] is not None) == 1
    assert sum(1 for r in cp if r["metaData"] is not None) == 1
    cp_adds = [r["add"]["path"] for r in cp if r["add"] is not None]
    got2 = spark.read.parquet(*[os.path.join(t.path, _unquote(p)) for p in cp_adds])
    assert sorted(map(tuple, got2.collect())) == sorted(
        map(tuple, t.read(spark, version=2).collect())
    )


def test_compact_zorder_by_clusters_both_columns(spark, tmp_path):
    """OPTIMIZE ZORDER BY parity: compact(zorder_by=(x, y)) rewrites
    the snapshot clustered on the Morton curve — a box predicate on
    both columns touches fewer files than the key-sorted layout, and
    the data is row-identical across versions."""
    t = ParquetKeyedTable(str(tmp_path / "zc"), ["k"])
    n = 1 << 14
    df = spark.range(0, n).select(
        F.col("id").alias("k"),
        (F.col("id") % 128).alias("x"),
        ((F.col("id") / 128).cast("long") % 128).alias("y"),
    )
    t.overwrite(df.repartition(64))
    # target sized for >=8 output files even though the range-clustered
    # v0 layout (r8) delta-encodes x/y into a much smaller snapshot
    v = t.compact(spark, target_file_bytes=8_000, zorder_by=("x", "y"))
    assert v == 1 and t.manifest(v)["operation"] == "compact"

    def files_touched(version):
        return (
            t.read(spark, version=version)
            .where("x >= 32 and x < 48 and y >= 32 and y < 48")
            .select(F.input_file_name().alias("f"))
            .distinct()
            .count()
        )

    n_files = t.manifest(v)["n_files"]
    assert n_files >= 8  # enough granularity for clustering to matter
    assert files_touched(1) <= max(2, n_files // 8)
    # identical rows, only layout changed
    a = sorted(map(tuple, t.read(spark, version=0).collect()))
    b = sorted(map(tuple, t.read(spark, version=1).collect()))
    assert a == b
    with pytest.raises(ValueError, match="two columns"):
        t.compact(spark, zorder_by=("x",))


def test_concurrent_upserts_serialize_no_lost_update(spark, tmp_path):
    """Two writers racing the same table: each upsert is a
    read-merge-commit spanning seconds, so without the table write
    lock both would merge against the same base version and the later
    flip would silently drop the earlier writer's rows. With the flock
    serialization every row from every writer survives and versions
    are strictly sequential."""
    import threading

    t = ParquetKeyedTable(str(tmp_path / "conc"), ["k"])
    t.overwrite(spark.createDataFrame([Row(k="base", v=0)]))
    errors = []

    def writer(tag):
        try:
            # each thread its own handle (like two jobs would have)
            mine = ParquetKeyedTable(str(tmp_path / "conc"), ["k"])
            for i in range(3):
                mine.upsert(
                    spark, spark.createDataFrame([Row(k=f"{tag}{i}", v=i)])
                )
        except Exception as e:  # surfaced after join
            errors.append(e)

    threads = [threading.Thread(target=writer, args=(tag,)) for tag in "AB"]
    for th in threads:
        th.start()
    for th in threads:
        th.join()
    assert not errors, errors
    got = sorted(r["k"] for r in t.read(spark).collect())
    assert got == ["A0", "A1", "A2", "B0", "B1", "B2", "base"]
    assert t.current_version() == 6  # 1 overwrite + 6 serialized upserts
    # every version has a manifest — no torn or skipped numbers
    assert [m["version"] for m in t.history()] == list(range(6, -1, -1))


def test_torn_commit_is_invisible_and_self_heals(spark, tmp_path):
    """Crash-safety of the commit protocol: snapshot dir -> manifest ->
    atomic _LATEST flip. A crash BEFORE the flip leaves an orphan v=N
    directory that (a) readers never see — current_version still names
    N-1, time travel to N returns None, (b) the next commit OVERWRITES
    (mode=overwrite clears the orphan) and commits cleanly as N with
    the new data, not the torn remains."""
    t = ParquetKeyedTable(str(tmp_path / "torn"), ["k"])
    t.overwrite(spark.createDataFrame([Row(k="a", v=1)]))
    assert t.current_version() == 0

    # simulate the crash: snapshot (+ even the manifest) written, no flip
    torn_df = spark.createDataFrame([Row(k="TORN", v=999)])
    new_v = t._write_snapshot(torn_df)
    t._write_manifest(new_v, "upsert")
    assert new_v == 1 and os.path.isdir(t._snapshot_dir(1))
    # invisible to every read surface
    assert t.current_version() == 0
    assert t.read(spark, version=1) is None
    assert [r["k"] for r in t.read(spark).collect()] == ["a"]
    assert all(m["version"] != 1 for m in t.history())

    # next commit reclaims the version number with the REAL data
    t.upsert(spark, spark.createDataFrame([Row(k="b", v=2)]))
    assert t.current_version() == 1
    got = sorted((r["k"], r["v"]) for r in t.read(spark).collect())
    assert got == [("a", 1), ("b", 2)]  # no TORN row survives


def test_delta_checkpoint_golden_layout(spark, tmp_path):
    """Byte-level golden check of the checkpoint parquet against the
    PUBLISHED Delta protocol layout (PROTOCOL.md 'Checkpoints'), plus
    an independent spec-derived reader — the external-validation
    substitute for delta-rs, which is not installable in this
    container. Everything asserted here comes from the public spec,
    not from the writer's own replay path."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    t = ParquetKeyedTable(str(tmp_path / "golden"), ["d", "k"], partition_by=["d"])
    t.overwrite(
        spark.createDataFrame(
            [Row(d="2024-01-01", k="a", v=1), Row(d="2024-01-02", k="b", v=2)]
        )
    )
    t.upsert(spark, spark.createDataFrame([Row(d="2024-01-03", k="c", v=3)]))
    log_dir = t.export_delta_log(spark)
    cp_path = os.path.join(log_dir, "00000000000000000001.checkpoint.parquet")
    assert os.path.exists(cp_path)  # %020d naming per spec

    # --- physical arrow schema: field names, types, nesting ---------------
    sch = pq.read_schema(cp_path)
    assert set(sch.names) >= {"protocol", "add"}
    proto_t = sch.field("protocol").type
    assert pa.types.is_struct(proto_t)
    assert {f.name: str(f.type) for f in proto_t} == {
        "minReaderVersion": "int32",
        "minWriterVersion": "int32",
    }
    md_t = sch.field("metaData").type
    md_fields = {f.name: f.type for f in md_t}
    assert set(md_fields) == {
        "id", "format", "schemaString", "partitionColumns", "configuration", "createdTime",
    }
    assert pa.types.is_list(md_fields["partitionColumns"])
    assert pa.types.is_map(md_fields["configuration"])
    assert pa.types.is_string(md_fields["configuration"].key_type)
    assert pa.types.is_string(md_fields["configuration"].item_type)
    fmt_fields = {f.name: f.type for f in md_fields["format"]}
    assert pa.types.is_string(fmt_fields["provider"])
    assert pa.types.is_map(fmt_fields["options"])
    add_t = sch.field("add").type
    add_fields = {f.name: str(f.type) for f in add_t if not pa.types.is_map(f.type)}
    assert add_fields == {
        "path": "string",
        "size": "int64",
        "modificationTime": "int64",
        "dataChange": "bool",
        "stats": "string",  # optional per-file stats JSON (PROTOCOL.md)
    }
    assert pa.types.is_map({f.name: f.type for f in add_t}["partitionValues"])

    # --- row discipline: exactly one non-null action per row --------------
    tbl = pq.read_table(cp_path).to_pylist()
    for row in tbl:
        assert sum(1 for v in row.values() if v is not None) == 1
    # protocol row first-class and versions per spec floor
    protos = [r["protocol"] for r in tbl if r["protocol"] is not None]
    assert protos == [{"minReaderVersion": 1, "minWriterVersion": 2}]
    # schemaString must itself be valid Spark schema JSON
    mds = [r["metaData"] for r in tbl if r["metaData"] is not None]
    assert len(mds) == 1
    from pyspark.sql.types import StructType

    assert isinstance(StructType.fromJson(json.loads(mds[0]["schemaString"])), StructType)
    assert mds[0]["partitionColumns"] == ["d"]

    # --- independent minimal reader straight from the spec -----------------
    # _last_checkpoint names {version, size}; snapshot = checkpoint adds
    # + replay of any later {version:020d}.json deltas (none here, since
    # the latest checkpoint IS the latest version)
    with open(os.path.join(log_dir, "_last_checkpoint")) as fh:
        lc = json.load(fh)
    cp = pq.read_table(
        os.path.join(log_dir, f"{lc['version']:020d}.checkpoint.parquet")
    ).to_pylist()
    assert lc["size"] == len(cp)
    active = {r["add"]["path"]: r["add"] for r in cp if r["add"] is not None}
    for v in range(lc["version"] + 1, t.current_version() + 1):
        with open(os.path.join(log_dir, f"{v:020d}.json")) as fh:
            for line in fh:
                a = json.loads(line)
                if "add" in a:
                    active[a["add"]["path"]] = a["add"]
                elif "remove" in a:
                    active.pop(a["remove"]["path"], None)
    # spec: paths are percent-encoded, RELATIVE to the table root
    assert all(not p.startswith(("/", "file:", "s3:")) for p in active)
    # partitionValues must carry the DECODED hive values for each path
    for p, add in active.items():
        # pyarrow maps surface as [(k, v)] pairs; json deltas as dicts
        for col, val in dict(add["partitionValues"]).items():
            assert f"{col}=" in _unquote(p)
            assert val in _unquote(p)
    # spec reader semantics: data files do NOT store partition columns;
    # the reader injects them from each add's partitionValues
    rows = []
    for p, add in active.items():
        pdf = pq.read_table(os.path.join(t.path, _unquote(p))).to_pylist()
        for r in pdf:
            rows.append({**r, **dict(add["partitionValues"])})
    got = sorted((r["d"], r["k"], r["v"]) for r in rows)
    expect = sorted((str(r["d"]), r["k"], r["v"]) for r in t.read(spark).collect())
    assert got == expect
    # add.size must equal the on-disk byte size (readers use it for
    # planning; a wrong size breaks delta-rs scans)
    for p, add in active.items():
        assert add["size"] == os.path.getsize(os.path.join(t.path, _unquote(p)))


def test_delta_log_export_replays_history(spark, tmp_path):
    """docs/DELTA_LOG.md contract: replaying the exported Delta actions
    up to version n yields exactly the file set of snapshot n, and
    reading those paths returns the same rows as read(version=n)."""
    t = ParquetKeyedTable(str(tmp_path / "dlt"), ["d", "k"], partition_by=["d"])
    t.overwrite(
        spark.createDataFrame(
            [Row(d="2024-01-01", k="a", v=1), Row(d="2024-01-02", k="b", v=2)]
        )
    )
    t.upsert(
        spark,
        spark.createDataFrame(
            [Row(d="2024-01-02", k="b", v=20), Row(d="2024-01-03", k="c", v=3)]
        ),
    )
    t.delete_keys(spark, spark.createDataFrame([Row(d="2024-01-01", k="a")]))
    log_dir = t.export_delta_log(spark)

    assert sorted(f for f in os.listdir(log_dir) if f.endswith(".json")) == [
        f"{v:020d}.json" for v in range(3)
    ]
    active: dict[str, dict] = {}
    seen_protocol = seen_metadata = False
    for v in range(t.current_version() + 1):
        ops = []
        with open(os.path.join(log_dir, f"{v:020d}.json")) as fh:
            for line in fh:
                a = json.loads(line)
                ops.append(next(iter(a)))
                if "protocol" in a:
                    seen_protocol = True
                elif "metaData" in a:
                    seen_metadata = True
                    assert a["metaData"]["partitionColumns"] == ["d"]
                    assert '"name":"k"' in a["metaData"]["schemaString"]
                elif "remove" in a:
                    active.pop(a["remove"]["path"])
                elif "add" in a:
                    add = a["add"]
                    active[add["path"]] = add
                    assert add["path"].startswith(f"v={v}/")
                    # partitionValues parsed from the hive path
                    assert set(add["partitionValues"]) == {"d"}
                    # add.path is protocol-percent-encoded; decode to resolve
                    disk = os.path.join(t.path, _unquote(add["path"]))
                    assert os.path.getsize(disk) == add["size"]
        assert "commitInfo" in ops
        # replayed state == manifest file listing of snapshot v
        # (add.path is protocol-encoded; manifest stores raw disk paths)
        manifest_paths = {f"v={v}/{f['path']}" for f in t.manifest(v)["files"]}
        assert {_unquote(p) for p in active} == manifest_paths
        # reading the replayed add-file paths == engine time travel
        got = spark.read.option("basePath", t._snapshot_dir(v)).parquet(
            *[os.path.join(t.path, _unquote(p)) for p in sorted(active)]
        )
        expect = t.read(spark, version=v)
        assert sorted(map(tuple, got.collect())) == sorted(map(tuple, expect.collect()))
    assert seen_protocol and seen_metadata
    # protocol/metaData appear exactly once (schema never changed)
    with open(os.path.join(log_dir, "00000000000000000001.json")) as fh:
        assert all("metaData" not in json.loads(line) for line in fh)

    # special-character partition value: hive escaping (on disk) plus
    # protocol percent-encoding (in add.path) must both round-trip to
    # the logical value in partitionValues, and the decoded path must
    # resolve on disk
    t2 = ParquetKeyedTable(str(tmp_path / "dlt2"), ["d", "k"], partition_by=["d"])
    t2.overwrite(spark.createDataFrame([Row(d="a:b c", k="x", v=1)]))
    log2 = t2.export_delta_log(spark)
    with open(os.path.join(log2, "00000000000000000000.json")) as fh:
        adds = [json.loads(line)["add"] for line in fh if '"add"' in line]
    assert adds
    for a in adds:
        assert a["partitionValues"] == {"d": "a:b c"}
        assert os.path.exists(os.path.join(t2.path, _unquote(a["path"])))


def test_delta_log_checkpoint_replays_long_history_o1(spark, tmp_path):
    """Past 30 versions, a reader must not replay O(commits) JSON:
    _last_checkpoint names the newest checkpoint, and loading that one
    parquet file alone reconstructs the latest snapshot exactly."""
    t = ParquetKeyedTable(str(tmp_path / "dlong"), ["k"])
    for i in range(32):
        t.upsert(spark, spark.createDataFrame([Row(k=f"k{i % 5}", v=i)]))
    log_dir = t.export_delta_log(spark)
    with open(os.path.join(log_dir, "_last_checkpoint")) as fh:
        cp_info = json.load(fh)
    assert cp_info["version"] == t.current_version() == 31
    cp_file = os.path.join(log_dir, f"{cp_info['version']:020d}.checkpoint.parquet")
    rows = spark.read.parquet(cp_file).collect()
    assert cp_info["size"] == len(rows)
    # checkpoint alone (no JSON replay) == latest snapshot
    adds = [r["add"]["path"] for r in rows if r["add"] is not None]
    got = spark.read.parquet(*[os.path.join(t.path, _unquote(p)) for p in adds])
    assert sorted(map(tuple, got.collect())) == sorted(
        map(tuple, t.read(spark).collect())
    )
    # deltas after the checkpoint: none (checkpoint is at the tip), so
    # snapshot construction reads exactly 1 checkpoint + 0 JSONs
    newer = [
        f for f in os.listdir(log_dir)
        if f.endswith(".json") and int(f.split(".")[0]) > cp_info["version"]
    ]
    assert newer == []


def test_partition_scoped_merge_prunes_at_1000_partitions(spark, tmp_path):
    """The touched-partition predicate must stay a single IN over a
    composed partition tuple — static pruning in the scan, no
    super-linear planning — even at 1,000 touched partitions, and a
    batch past MAX_SCOPED_PARTITIONS must fall back to a full merge
    rather than collect unboundedly."""
    import time as _time

    from pyspark.sql import functions as F

    t = ParquetKeyedTable(str(tmp_path / "pp"), ["p", "k"], partition_by=["p"])
    base = spark.range(4000).select(
        F.concat(F.lit("p"), (F.col("id") % 2000).cast("string")).alias("p"),
        F.col("id").cast("string").alias("k"),
        F.col("id").alias("v"),
    )
    t.overwrite(base)
    # window touching 1,000 of 2,000 partitions
    window = spark.range(1000).select(
        F.concat(F.lit("p"), F.col("id").cast("string")).alias("p"),
        F.col("id").cast("string").alias("k"),
        (F.col("id") + 100_000).alias("v"),
    )
    t0 = _time.time()
    t.upsert(spark, window)
    elapsed = _time.time() - t0
    assert t.manifest()["operation"] == "partition_upsert"
    assert elapsed < 120, f"planning blow-up: {elapsed:.1f}s"
    got = t.read(spark)
    assert got.count() == 4000
    assert got.filter(F.col("v") >= 100_000).count() == 1000
    # past the cap: full merge, not partition-scoped
    prev_max = ParquetKeyedTable.MAX_SCOPED_PARTITIONS
    ParquetKeyedTable.MAX_SCOPED_PARTITIONS = 500
    try:
        wide = spark.range(600).select(
            F.concat(F.lit("p"), F.col("id").cast("string")).alias("p"),
            F.col("id").cast("string").alias("k"),
            (F.col("id") + 200_000).alias("v"),
        )
        t.upsert(spark, wide)
        assert t.manifest()["operation"] == "upsert"  # fallback path
        assert t.read(spark).filter(F.col("v") >= 200_000).count() == 600
    finally:
        ParquetKeyedTable.MAX_SCOPED_PARTITIONS = prev_max


def test_partition_scoped_merge_statically_prunes_scan(spark, tmp_path):
    """The struct-IN predicate over partition columns lands in the
    FileScan's PartitionFilters (static pruning), and null partition
    values still merge correctly via the null-safe side predicate."""
    from pyspark.sql import functions as F

    t = ParquetKeyedTable(str(tmp_path / "ppn"), ["m", "d", "k"], partition_by=["m", "d"])
    rows = [Row(m=f"2024-{i % 3 + 1:02d}", d=f"d{i % 2}", k=f"k{i}", v=i) for i in range(12)]
    t.overwrite(spark.createDataFrame(rows))
    target = t.read(spark)
    src = spark.createDataFrame(
        [Row(m="2024-01", d="d0", k="k0", v=100), Row(m="2024-02", d="d1", k="k1", v=101)]
    )
    # reproduce the predicate the merge builds and check the scan plan
    lits = [
        F.struct(F.lit("2024-01").alias("m"), F.lit("d0").alias("d")),
        F.struct(F.lit("2024-02").alias("m"), F.lit("d1").alias("d")),
    ]
    pred = F.struct("m", "d").isin(*lits)
    plan = target.where(pred)._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [" in plan and " IN (" in plan, plan[:900]
    t.upsert(spark, src)
    got = {r["k"]: r["v"] for r in t.read(spark).collect()}
    assert got["k0"] == 100 and got["k1"] == 101 and len(got) == 12

    # null partition value: must not be silently dropped by the IN
    t2 = ParquetKeyedTable(str(tmp_path / "ppnull"), ["m", "k"], partition_by=["m"])
    t2.overwrite(
        spark.createDataFrame([("a", "x", 1), (None, "y", 2)], "m string, k string, v bigint")
    )
    t2.upsert(spark, spark.createDataFrame([(None, "y", 20)], "m string, k string, v bigint"))
    got2 = {(r["m"], r["k"]): r["v"] for r in t2.read(spark).collect()}
    assert got2 == {("a", "x"): 1, (None, "y"): 20}


# --- S9: OData paged reader ------------------------------------------------


def _odata_server(n=25):
    from bw_new_data_integration_spark.sources.odata_testing import InMemoryODataServer

    recs = [{"id": i, "name": f"row{i:03d}", "grp": i % 3, "extra": "unprojected"} for i in range(n)]
    return InMemoryODataServer(recs)


def test_odata_read_paged_follows_nextlink_and_projects(spark):
    from pyspark.sql import types as T

    from bw_new_data_integration_spark.sources import odata

    server = _odata_server(25)
    schema = T.StructType([
        T.StructField("id", T.LongType()),
        T.StructField("name", T.StringType()),
    ])
    df = odata.read_paged(spark, lambda: server.fetch, "rows", schema, page_size=10)
    got = sorted((r["id"], r["name"]) for r in df.collect())
    assert got == [(i, f"row{i:03d}") for i in range(25)]
    assert server.requests_served == 3  # 10+10+5: nextLink chain followed
    assert df.columns == ["id", "name"]  # $select pruned 'grp'/'extra' server-side


def test_odata_read_paged_filter_slice(spark):
    from pyspark.sql import types as T

    from bw_new_data_integration_spark.sources import odata

    server = _odata_server(25)
    schema = T.StructType([T.StructField("id", T.LongType())])
    df = odata.read_paged(spark, lambda: server.fetch, "rows", schema, filter="grp eq 1",
                          select=["id"], page_size=4)
    assert sorted(r["id"] for r in df.collect()) == [i for i in range(25) if i % 3 == 1]


def test_odata_read_paged_partitioned_matches_sequential(spark):
    from pyspark.sql import types as T

    from bw_new_data_integration_spark.sources import odata

    server = _odata_server(50)
    schema = T.StructType([
        T.StructField("id", T.LongType()),
        T.StructField("grp", T.LongType()),
    ])
    seq = odata.read_paged(spark, lambda: server.fetch, "rows", schema, page_size=7)
    par = odata.read_paged_partitioned(
        spark, lambda: server.fetch, "rows", schema,
        slices=[f"grp eq {g}" for g in range(3)], page_size=7,
    )
    assert sorted(map(tuple, seq.collect())) == sorted(map(tuple, par.collect()))


# --- auth-refresh seam -----------------------------------------------------


def test_token_provider_proactive_refresh_by_age():
    from bw_new_data_integration_spark.sources.credentials import TokenProvider

    clock = [0.0]
    fetches = [0]

    def fetch():
        fetches[0] += 1
        return f"tok{fetches[0]}"

    p = TokenProvider(fetch, max_age_seconds=100, clock=lambda: clock[0])
    assert p.token() == "tok1"
    clock[0] = 50
    assert p.token() == "tok1"  # still fresh
    clock[0] = 150
    assert p.token() == "tok2"  # past max age: proactive re-fetch
    p.invalidate()
    assert p.token() == "tok3"


def test_write_batched_recovers_from_mid_load_401(spark):
    """The reference's refresh-on-401 discipline: a token that expires
    mid-load causes 401s; the sink must refresh via the transport's
    on_auth_error and complete the load with zero errors and no
    backoff-retry consumption."""
    from bw_new_data_integration_spark.sources import odata
    from bw_new_data_integration_spark.sources.credentials import TokenProvider

    df = spark.createDataFrame([Row(k=f"k{i}", v=i) for i in range(40)])

    class ExpiringTransport:
        """Token 'tok1' dies after 2 batches; only a refreshed token works."""

        def __init__(self):
            self.provider = TokenProvider(self._fetch_token, max_age_seconds=10**9)
            self._issued = 0
            self._batches_on_current = 0

        def _fetch_token(self):
            self._issued += 1
            self._batches_on_current = 0
            return f"tok{self._issued}"

        def __call__(self, batch):
            tok = self.provider.token()
            if tok == "tok1" and self._batches_on_current >= 2:
                return [401] * len(batch)
            self._batches_on_current += 1
            return [201] * len(batch)

        def on_auth_error(self):
            self.provider.invalidate()

    stats = odata.write_batched(
        df, ExpiringTransport, "k", batch_size=10, concurrency=1,
        policy=odata.RetryPolicy(max_attempts=3),
    )
    assert stats["errors"] == 0
    assert stats["created"] == 40


def test_read_event_stream_long_ts_schema_branch(spark, tmp_path):
    """Streaming twin of catalog.load's nanos support: a LongType ts
    schema must set the nanosAsLong reader flag and convert int64 nanos
    to a microsecond timestamp (previously the branch was dead — the
    reader rejected nanos files before it ran)."""
    import datetime

    from pyspark.sql import types as T

    from bw_new_data_integration_spark.streaming import stream as st

    src = str(tmp_path / "nanos_events")
    base_us = 1_700_000_000_000_000
    spark.createDataFrame(
        [(1, (base_us + 5) * 1000, 7, "click", 1.0, "{}")],
        "event_id bigint, ts bigint, user_id bigint, event_type string, value double, props string",
    ).write.parquet(src)
    schema = T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("ts", T.LongType()),
            T.StructField("user_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("value", T.DoubleType()),
            T.StructField("props", T.StringType()),
        ]
    )
    events = st.read_event_stream(spark, src, schema=schema)
    assert isinstance(events.schema["ts"].dataType, T.TimestampType)
    assert spark.conf.get("spark.sql.legacy.parquet.nanosAsLong") == "true"
    name = "nanos_stream_test"
    (events.writeStream.format("memory").queryName(name).outputMode("append")
     .trigger(availableNow=True).start().awaitTermination())
    [row] = spark.table(name).collect()
    assert row["ts"] == datetime.datetime(2023, 11, 14, 22, 13, 20, 5)


# --- K5: declarative table spec + lifecycle --------------------------------


def _daily_sales_spec():
    from bw_new_data_integration_spark.sources.ddl import ColumnSpec, TableSpec

    return TableSpec(
        name="daily_sales",
        columns=(
            ColumnSpec("store_number", "string", max_length=20, required=True),
            ColumnSpec("calendar_date", "date", required=True),
            ColumnSpec("qty", "decimal"),
            ColumnSpec("line_count", "int"),
            ColumnSpec("business_key", "string", max_length=40, required=True),
        ),
        alternate_key=("business_key",),
        partition_by=("calendar_date",),
    )


def test_table_spec_struct_and_ddl():
    from pyspark.sql import types as T

    spec = _daily_sales_spec()
    st = spec.struct_type()
    assert st["qty"].dataType == T.DecimalType(13, 2)
    assert st["store_number"].nullable is False
    sql = spec.create_table_sql(location="/tmp/ds")
    assert "store_number STRING NOT NULL" in sql
    assert "qty DECIMAL(13,2)" in sql
    assert "PARTITIONED BY (calendar_date)" in sql


def test_table_spec_rejects_unknown_key_column():
    from bw_new_data_integration_spark.sources.ddl import ColumnSpec, TableSpec

    with pytest.raises(ValueError, match="unknown columns"):
        TableSpec("t", (ColumnSpec("a", "int"),), alternate_key=("nope",))


def test_validate_against_spec_counts_violations(spark):
    from bw_new_data_integration_spark.sources import ddl

    spec = _daily_sales_spec()
    df = spark.createDataFrame(
        [
            ("s1", "2024-01-01", 10.0, 1, "bk1"),          # clean
            (None, "2024-01-02", 10.0, 1, "bk2"),          # store_number null (required)
            ("s3" * 11, "2024-01-03", 10.0, 1, "bk3"),     # store_number too long
            ("s4", "2024-01-04", 2.0e11, 1, "bk4"),        # qty out of ±1e11 range
            ("s5", "2024-01-05", 1.0, 1, None),            # business_key null
        ],
        "store_number string, calendar_date string, qty double, line_count int, business_key string",
    ).withColumn("calendar_date", F.col("calendar_date").cast("date"))
    got = {r["col_name"]: (r["n_violations"], r["n_checked"])
           for r in ddl.validate_against_spec(df, spec).collect()}
    assert got["store_number"] == (2, 5)
    assert got["qty"] == (1, 5)
    assert got["business_key"] == (1, 5)
    assert got["calendar_date"] == (0, 5)
    assert got["line_count"] == (0, 5)


def test_table_lifecycle_polls_until_key_active():
    from bw_new_data_integration_spark.sources.ddl import TableLifecycle

    class FakeClient:
        def __init__(self):
            self.calls = []
            self.polls = 0

        def create_table(self, spec):
            self.calls.append("create_table")

        def create_alternate_key(self, table, key_cols):
            self.calls.append(f"key:{','.join(key_cols)}")

        def key_status(self, table):
            self.polls += 1
            return "Pending" if self.polls < 3 else "Active"

        def publish(self, table):
            self.calls.append("publish")

    client = FakeClient()
    lc = TableLifecycle(client, poll_interval=0.01, sleep=lambda s: None)
    out = lc.provision(_daily_sales_spec())
    assert out["steps"] == ["create_table", "create_alternate_key", "key_active", "publish"]
    assert client.polls == 3
    assert client.calls == ["create_table", "key:business_key", "publish"]


def test_table_lifecycle_key_failure_raises():
    from bw_new_data_integration_spark.sources.ddl import TableLifecycle

    class FailingClient:
        def create_table(self, spec): pass
        def create_alternate_key(self, table, key_cols): pass
        def key_status(self, table): return "Failed"
        def publish(self, table): raise AssertionError("must not publish on failure")

    lc = TableLifecycle(FailingClient(), sleep=lambda s: None)
    with pytest.raises(RuntimeError, match="key build failed"):
        lc.provision(_daily_sales_spec())


def _hh_engines():
    from bw_new_data_integration_spark.streaming.tws import tws_available

    engines = ["apply_in_pandas"]
    if tws_available():
        engines.append("tws")  # protobuf runtime present: exercise both
    return engines


@pytest.mark.parametrize("engine", _hh_engines())
def test_streaming_heavy_hitters_eviction_guarantees(spark, tmp_path, engine):
    """The SpaceSaving EVICTION path (capacity < distinct keys), across
    a state-store restart: two waves of events through the same
    checkpoint, capacity 4 per bucket vs ~20 distinct keys. Invariants:
    per bucket, n_total is exact; every reported estimate lies in
    [true, true+err]; and NO key with true count > err is absent —
    the family's guarantee, which must survive folding wave 2 into
    wave 1's restored state. Parametrized over the dual engines
    (VERDICT r7 #7): both fold through the same _topk_fold, and the
    tws engine additionally runs wherever protobuf is importable."""
    from collections import Counter

    from pyspark.sql import types as T

    from bw_new_data_integration_spark.streaming.topk import stream_heavy_hitters

    def bucket_of(k: str, n: int = 2) -> int:
        import hashlib

        return int(hashlib.md5(k.encode()).hexdigest()[:8], 16) % n

    # zipf-ish key stream: k0 dominates, long tail of rares
    wave1 = [f"k{min(i % 40, i % 7)}" for i in range(400)]
    wave2 = [f"k{i % 23}" for i in range(300)]
    src = tmp_path / "src"
    src.mkdir()
    ckpt = str(tmp_path / "ckpt")

    def write_wave(name, keys):
        pdf = __import__("pandas").DataFrame(
            {"user_id": range(len(keys)), "ts": range(len(keys)), "value": 1.0,
             "event_type": keys, "event_id": range(len(keys))}
        )
        pdf.to_parquet(src / name)

    def run_wave(qname):
        schema = T.StructType(
            [T.StructField("user_id", T.LongType()), T.StructField("ts", T.LongType()),
             T.StructField("value", T.DoubleType()),
             T.StructField("event_type", T.StringType()),
             T.StructField("event_id", T.LongType())]
        )
        ev = spark.readStream.schema(schema).parquet(str(src))
        hh = stream_heavy_hitters(ev, "event_type", capacity=4, n_buckets=2, engine=engine)
        collected: list = []

        # foreachBatch (unlike the memory sink) supports checkpoint
        # RECOVERY — the restart is the point of this test
        q = (
            hh.writeStream.foreachBatch(
                lambda df, _eid: collected.extend(df.collect())
            )
            .option("checkpointLocation", ckpt)
            .outputMode("update").trigger(availableNow=True).start()
        )
        q.awaitTermination()
        # update mode may emit once per micro-batch; keep the LAST
        # emission per bucket (largest n_total)
        best = {}
        for r in collected:
            if r["bucket"] not in best or r["n_total"] > best[r["bucket"]]["n_total"]:
                best[r["bucket"]] = r
        return best

    import pytest as _pytest

    pd = _pytest.importorskip("pandas")  # noqa: F841  (always present here)
    write_wave("w1.parquet", wave1)
    run_wave("hh_wave1")
    write_wave("w2.parquet", wave2)
    summaries = run_wave("hh_wave2")

    true = Counter(wave1) + Counter(wave2)
    for b, r in summaries.items():
        bucket_true = {k: c for k, c in true.items() if bucket_of(k) == b}
        assert r["n_total"] == sum(bucket_true.values())  # exact across restart
        assert len(r["terms"]) <= 4
        for t, est in zip(r["terms"], r["counts"]):
            assert bucket_true[t] <= est <= bucket_true[t] + r["err"], (
                b, t, est, bucket_true[t], r["err"]
            )
        for k, c in bucket_true.items():
            if c > r["err"]:
                assert k in r["terms"], (b, k, c, r["err"])


def test_manifest_and_history_track_commits(spark, tmp_path):
    """Every commit writes a _manifest.json (Delta's DESCRIBE HISTORY
    analogue): operation name, file counts, and — for partition-scoped
    merges — the linked-vs-written split that proves untouched
    partitions were carried forward, not rewritten."""
    t = ParquetKeyedTable(str(tmp_path / "mt"), ["d", "k"], partition_by=["d"])
    t.upsert(spark, spark.createDataFrame(
        [Row(d="2024-01-01", k="a", v=1), Row(d="2024-01-02", k="b", v=2)]))
    t.upsert(spark, spark.createDataFrame([Row(d="2024-01-02", k="b", v=20)]))
    t.delete_keys(spark, spark.createDataFrame([Row(d="2024-01-01", k="a")]))

    hist = t.history()
    assert [m["operation"] for m in hist] == ["delete", "partition_upsert", "upsert"]
    assert [m["version"] for m in hist] == [2, 1, 0]
    pu = hist[1]
    assert pu["n_linked"] >= 1  # 2024-01-01 carried forward as hard links
    assert pu["n_files"] > pu["n_linked"]  # 2024-01-02 rewritten
    assert all(f["bytes"] > 0 for f in pu["files"])
    # reading still works with the manifest in the snapshot dir
    assert t.read(spark).count() == 1
    assert t.manifest()["operation"] == "delete"


def test_tws_running_ledger_matches_batch(spark, tmp_path):
    """Running-ledger operator (streaming/tws.py) vs the batch
    aggregate — the continuous/batch cutover contract. Runs on EVERY
    environment: engine="auto" picks transformWithStateInPandas where
    pyspark's protobuf runtime is importable and the semantically
    identical applyInPandasWithState engine where it is not (a vendored
    mini encoder cannot replace google.protobuf — the generated
    StateMessage_pb2 imports the full descriptor-pool runtime and
    version-validates it; see the module docstring). Both engines fold
    batches through the same _ledger_fold code object."""
    from bw_new_data_integration_spark.streaming import stream as st
    from bw_new_data_integration_spark.streaming.tws import (
        stream_running_ledger,
        tws_available,
    )

    # the auto engine must resolve without error on this box either way
    assert isinstance(tws_available(), bool)

    # the file stream source lists files directly under the path (no
    # recursion) — write the parquet files at the streamed root itself
    src = tmp_path / "ev"
    spark.createDataFrame(
        [Row(event_id=i, ts=f"2024-01-01 00:{i % 60:02d}:00", user_id=i % 5,
             event_type="e", value=float(i), props="{}")
        for i in range(200)]
    ).withColumn("ts", F.col("ts").cast("timestamp")).write.parquet(str(src))
    events = st.read_event_stream(spark, str(src)).select("user_id", "ts", "value")
    q = (
        stream_running_ledger(events)
        .writeStream.format("memory").queryName("tws_test")
        .outputMode("update").trigger(availableNow=True).start()
    )
    q.awaitTermination()
    got = {
        r["user_id"]: (r["n_events"], r["sum_value"])
        for r in spark.sql(
            "SELECT user_id, max(n_events) n_events, max(sum_value) sum_value "
            "FROM tws_test GROUP BY user_id"
        ).collect()
    }
    assert got == {u: (40, float(sum(i for i in range(200) if i % 5 == u))) for u in range(5)}


def test_running_ledger_engine_contract():
    """The engine seam is explicit: unknown names fail loud, and the
    availability probe returns a bool on boxes with or without the
    protobuf runtime instead of leaking ModuleNotFoundError."""
    from bw_new_data_integration_spark.streaming.tws import (
        stream_running_ledger,
        tws_available,
    )

    assert tws_available() in (True, False)
    with pytest.raises(ValueError, match="unknown engine"):
        stream_running_ledger(None, engine="bogus")


def test_heavy_hitters_engine_contract(spark):
    """The heavy-hitters operator exposes the same dual-engine seam as
    the ledger: unknown names fail loud before any stream starts."""
    from bw_new_data_integration_spark.streaming.topk import stream_heavy_hitters

    df = spark.createDataFrame([("a",)], "event_type string")
    with pytest.raises(ValueError, match="unknown engine"):
        stream_heavy_hitters(df, "event_type", engine="bogus")


def test_watermark_lateness_matrix_repair_vs_drop(spark, tmp_path):
    """§2.9's 14-day-repair semantics, verified end-to-end on the
    streaming surface with an explicit LATENESS MATRIX: late events
    inside the watermark horizon REPAIR their (already-emitted) window
    through the keyed upsert sink, late events beyond it are DROPPED by
    the engine (visible in numRowsDroppedByWatermark), and a repaired
    window converges to the same row a batch recompute would produce —
    the nightly-trailing-window contract the reference implements by
    re-upserting 14 days every night.

    Lateness matrix (watermark horizon = 14 days; watermark after
    batch 1 = max_ts Jan-10 − 14d = Dec-27; after batch 2 = Jan-25 −
    14d = Jan-11):

    | event (batch 2)        | event time          | vs watermark  | expected |
    |------------------------|---------------------|---------------|----------|
    | repair_into_open_win   | 2024-01-01 00:20    | 5d inside     | repaired |
    | accept_near_horizon    | 2023-12-28 12:00    | 1.5d inside   | accepted |
    | drop_just_beyond       | 2023-12-26 00:00    | 1d beyond     | dropped  |
    | drop_far_beyond        | 2023-12-01 00:00    | 26d beyond    | dropped  |
    | advance (new max)      | 2024-01-25 00:00    | —             | accepted |

    | event (batch 3)        | event time          | vs watermark  | expected |
    |------------------------|---------------------|---------------|----------|
    | drop_repair_too_late   | 2024-01-01 00:30    | 10d beyond    | dropped  |
    | accept_recent          | 2024-01-12 00:00    | 1d inside     | accepted |
    """
    from bw_new_data_integration_spark.sources.parquet_target import ParquetKeyedTable
    from bw_new_data_integration_spark.streaming import stream as st

    src = tmp_path / "events"
    src.mkdir()
    ckpt = tmp_path / "ckpt"

    def write_file(name, rows):
        pdf = spark.createDataFrame(
            [Row(event_id=i, ts=ts, user_id=1, event_type=et, value=1.0, props="{}")
             for i, (ts, et) in enumerate(rows)],
        ).withColumn("ts", F.col("ts").cast("timestamp"))
        # one parquet FILE per micro-batch: write to a staging dir and
        # move the part file into the streamed directory atomically
        stage = tmp_path / f"stage_{name}"
        pdf.coalesce(1).write.parquet(str(stage))
        part = next(p for p in stage.iterdir() if p.name.endswith(".parquet"))
        part.rename(src / f"{name}.parquet")

    target = ParquetKeyedTable(
        str(tmp_path / "wm_target"), ["window_start", "event_type"]
    )
    write_file("b1", [
        ("2024-01-01 00:10:00", "w1"),
        ("2024-01-01 00:40:00", "w1"),
        ("2024-01-10 00:00:00", "anchor"),
    ])
    events = st.read_event_stream(spark, str(src))
    agg = st.windowed_counts(events, window_duration="1 hour", watermark="14 days",
                             group_cols=("event_type",))
    q = (
        st.upsert_sink(agg, target, str(ckpt), query_name="wm_matrix")
        .trigger(processingTime="0 seconds")
        .start()
    )
    try:
        q.processAllAvailable()
        t1 = {(str(r["window_start"]), r["event_type"]): r["n"]
              for r in target.read(spark).collect()}
        assert t1[("2024-01-01 00:00:00", "w1")] == 2  # pre-repair emission

        write_file("b2", [
            ("2024-01-01 00:20:00", "w1"),        # 5d inside -> repairs w1
            ("2023-12-28 12:00:00", "near"),      # 1.5d inside -> accepted
            ("2023-12-26 00:00:00", "late1"),     # 1d beyond -> dropped
            ("2023-12-01 00:00:00", "late2"),     # 26d beyond -> dropped
            ("2024-01-25 00:00:00", "advance"),   # new max -> wm = Jan 11
        ])
        q.processAllAvailable()
        write_file("b3", [
            ("2024-01-01 00:30:00", "too_late"),  # 10d beyond -> dropped
            ("2024-01-12 00:00:00", "recent"),    # 1d inside -> accepted
        ])
        q.processAllAvailable()
        dropped = sum(
            op.get("numRowsDroppedByWatermark", 0)
            for p in q.recentProgress
            for op in p.get("stateOperators", [])
        )
    finally:
        q.stop()

    final = {(str(r["window_start"]), r["event_type"]): r["n"]
             for r in target.read(spark).collect()}
    # repaired: the already-emitted w1 window row converged to 3, not 4
    # (the batch-3 attempt was beyond the watermark)
    assert final[("2024-01-01 00:00:00", "w1")] == 3
    # accepted within-horizon rows all landed
    assert final[("2023-12-28 12:00:00", "near")] == 1
    assert final[("2024-01-25 00:00:00", "advance")] == 1
    assert final[("2024-01-12 00:00:00", "recent")] == 1
    assert final[("2024-01-10 00:00:00", "anchor")] == 1
    # dropped: no window row ever appeared for beyond-horizon events
    assert not any(et in ("late1", "late2", "too_late") for (_w, et) in final)
    assert dropped == 3
    # convergence: the repaired table equals a batch recompute over the
    # NON-DROPPED events (what the reference's nightly re-upsert yields)
    surviving = spark.read.parquet(str(src)).where(
        ~F.col("event_type").isin("late1", "late2", "too_late")
    )
    batch = (
        surviving.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count("*").alias("n"))
        .select(F.col("w.start").cast("string").alias("ws"), "event_type", "n")
    )
    expect = {(r["ws"], r["event_type"]): r["n"] for r in batch.collect()}
    assert {k: v for k, v in final.items()} == expect


def test_read_xml_raw_attributes_and_per_file_corruption(spark, tmp_path):
    """XML scan semantics (S14): attributes surface under the source's
    `_`-prefix convention, explicit all-string schema (no inference),
    and the XML-specific corruption unit — a malformed record has no
    line framing to resync on, so the remainder of its FILE lands as
    one corrupt record while sibling files parse fully."""
    from bw_new_data_integration_spark.sources.files import read_xml_raw

    d = tmp_path / "xmlsrc"
    d.mkdir()
    (d / "good.xml").write_text(
        "<os>\n"
        '<o k="1"><date_raw>2024-01-02</date_raw><amount_raw>1,234.50</amount_raw></o>\n'
        '<o k="2"><date_raw>3/4/2024</date_raw><amount_raw>-</amount_raw></o>\n'
        "</os>\n"
    )
    # broken mid-file: row 3 unclosed; row 4 (well-formed) is unreachable
    (d / "broken.xml").write_text(
        "<os>\n"
        '<o k="3"><date_raw>2024-05-06'
        '\n<o k="4"><date_raw>2024-07-08</date_raw><amount_raw>9</amount_raw></o>\n'
        "</os>\n"
    )
    df = read_xml_raw(spark, str(d), columns=["_k", "date_raw", "amount_raw"])
    rows = df.collect()
    good = {r["_k"]: r for r in rows if r["_corrupt_record"] is None}
    assert set(good) == {"1", "2"}
    assert good["1"]["amount_raw"] == "1,234.50"  # string, uncoerced
    assert good["2"]["date_raw"] == "3/4/2024"
    # the whole broken file collapses to corrupt capture — row 4 never
    # surfaces as a clean record
    corrupt = [r for r in rows if r["_corrupt_record"] is not None]
    assert len(corrupt) >= 1
    assert not any(r["_k"] == "4" and r["_corrupt_record"] is None for r in rows)


def test_read_where_stats_pruning_exact_and_null_semantics(spark, tmp_path):
    """K8 data skipping: footer min/max pruning drops provably-excluded
    files from the scan (visible in inputFiles()), never changes the
    answer, skips all-null files for null-rejecting predicates, and
    keeps files whose stats are absent."""
    import datetime

    d0 = datetime.date(2024, 1, 1)
    rows = []
    # four buckets, each a tight, disjoint 10-day date cluster
    for b in range(4):
        for i in range(10):
            rows.append(Row(b=b, k=b * 100 + i, d=d0 + datetime.timedelta(days=30 * b + i), x=float(i)))
    # bucket 9: d entirely NULL — null-rejecting preds must skip its file
    rows += [Row(b=9, k=900 + i, d=None, x=float(i)) for i in range(5)]
    df = spark.createDataFrame(rows).coalesce(1)  # one file per partition dir
    t = ParquetKeyedTable(str(tmp_path / "t"), ["b", "k"], partition_by=["b"], stats_cols=["d", "x"])
    t.overwrite(df)

    m = t.manifest()
    by_part = {f["path"].split("/")[0]: f for f in m["files"]}
    assert by_part["b=9"]["stats"]["d"]["min"] is None  # all-null stat recorded
    assert by_part["b=0"]["stats"]["d"] == {
        "t": "date", "min": "2024-01-01", "max": "2024-01-10", "nulls": 0,
    }

    preds = [("d", ">=", datetime.date(2024, 3, 1))]  # only buckets 2 and 3 can match
    pruned, rep = t.read_where(spark, preds, with_report=True)
    full = t.read(spark).where(F.col("d") >= F.lit(datetime.date(2024, 3, 1)))
    assert sorted(r["k"] for r in pruned.collect()) == sorted(r["k"] for r in full.collect())
    assert rep["files_skipped"] >= 3  # b=0, b=1, and the all-null b=9
    read_parts = {p.split("b=")[1].split("/")[0] for p in pruned.inputFiles()}
    assert "0" not in read_parts and "9" not in read_parts

    # IN-list over the partition column prunes directories
    _, rep_in = t.read_where(spark, [("b", "in", [1, 3])], with_report=True)
    assert rep_in["files_read"] == 2

    # a column with NO stats collected never prunes (conservative)
    got = t.read_where(spark, [("k", "=", 205)]).collect()
    assert [r["k"] for r in got] == [205]

    # stats off (default): no stats in manifest, read_where still exact
    t2 = ParquetKeyedTable(str(tmp_path / "t2"), ["b", "k"], partition_by=["b"])
    t2.overwrite(df)
    assert all("stats" not in f for f in t2.manifest()["files"])
    got2, rep2 = t2.read_where(spark, preds, with_report=True)
    assert got2.count() == full.count()
    assert rep2["files_skipped"] == 0


def test_partition_pruning_follows_literal_domain(spark, tmp_path):
    """ADVICE r6: when a partition column is string-typed with mixed
    numeric/non-numeric values, a STRING predicate literal must compare
    lexicographically (Spark's semantics for a string column) — the old
    both-sides-parse rule compared pv='2' vs '10' numerically and
    silently dropped the file Spark would match. A NUMERIC literal
    compares numerically, and an unparseable path value is kept for the
    residual filter to decide. Booleans match hive's lowercase spelling."""
    from bw_new_data_integration_spark.sources.parquet_target import (
        _partition_may_match,
    )

    # string literal ⇒ lexicographic match keeps: '2' > '10'
    assert _partition_may_match("2", ">", "10") is True
    assert _partition_may_match("abc", ">", "10") is True
    assert _partition_may_match("05", "<", "10") is True
    # string literal on ALL-NUMERIC dirs: Spark may infer the column
    # numeric and cast the literal — the numeric interpretation must
    # also keep ('10' > '2' is lex-False but 10 > 2, so keep)
    assert _partition_may_match("10", ">", "2") is True
    # prune only when BOTH interpretations agree there is no match
    assert _partition_may_match("10", "<", "0") is False
    # numeric literal ⇒ numeric domain (safe under both inferences)
    assert _partition_may_match("2", ">", 10) is False
    assert _partition_may_match("2", "<=", 10) is True
    # unparseable pv vs numeric literal: keep (residual filter decides)
    assert _partition_may_match("abc", ">", 10) is True
    # hive spells booleans lowercase; Python's str(True) is 'True'
    assert _partition_may_match("true", "=", True) is True
    assert _partition_may_match("false", "=", True) is False

    # End-to-end: string partition col, mixed values, string predicate.
    rows = [Row(c=c, k=i, x=float(i)) for i, c in enumerate(["2", "10", "abc"])]
    t = ParquetKeyedTable(str(tmp_path / "t"), ["c", "k"], partition_by=["c"])
    t.overwrite(spark.createDataFrame(rows).coalesce(1))
    got = t.read_where(spark, [("c", ">", "10")])
    want = t.read(spark).where(F.col("c") > "10")
    assert sorted(r["c"] for r in got.collect()) == sorted(
        r["c"] for r in want.collect()
    ) == ["2", "abc"]

    # End-to-end: ALL-NUMERIC dirs (Spark infers the partition column
    # numeric) with a STRING predicate literal — the review-found case
    # where lexicographic-only pruning silently dropped c=10
    rows2 = [Row(c=c, k=i, x=float(i)) for i, c in enumerate(["2", "10"])]
    t2 = ParquetKeyedTable(str(tmp_path / "t2"), ["c", "k"], partition_by=["c"])
    t2.overwrite(spark.createDataFrame(rows2).coalesce(1))
    got2 = t2.read_where(spark, [("c", ">", "2")])
    want2 = t2.read(spark).where(F.col("c") > "2")
    assert sorted(str(r["c"]) for r in got2.collect()) == sorted(
        str(r["c"]) for r in want2.collect()
    )


def test_read_where_stats_carry_forward_on_partition_scoped_upsert(spark, tmp_path):
    """Files hard-linked forward by a partition-scoped merge inherit
    their manifest stats from the previous version byte-for-byte — no
    footer re-read of untouched history (the O(window)-commit
    property)."""
    import datetime

    d0 = datetime.date(2024, 1, 1)
    df = spark.createDataFrame(
        [Row(b=b, k=b * 10 + i, d=d0 + datetime.timedelta(days=30 * b + i), x=1.0)
         for b in range(3) for i in range(5)]
    )
    t = ParquetKeyedTable(str(tmp_path / "t"), ["b", "k"], partition_by=["b"], stats_cols=["d"])
    t.overwrite(df)
    m0 = {f["path"]: f["stats"] for f in t.manifest()["files"]}
    t.upsert(spark, df.where(F.col("b") == 1).withColumn("x", F.lit(2.0)))
    m1 = t.manifest()
    linked = [f for f in m1["files"] if f["linked"]]
    assert linked, "partition-scoped upsert should carry b=0/b=2 forward"
    for f in linked:
        assert f["stats"] == m0[f["path"]]
    # and the pruned read over the merged table is still exact
    preds = [("d", "between", (d0, d0 + datetime.timedelta(days=6)))]
    pruned = t.read_where(spark, preds)
    assert sorted(r["k"] for r in pruned.collect()) == [0, 1, 2, 3, 4]

    # the same stats travel into the exported Delta log as the
    # protocol's add.stats JSON (numRecords/minValues/maxValues/
    # nullCount), so external readers can data-skip too
    log_dir = t.export_delta_log(spark)
    with open(os.path.join(log_dir, "00000000000000000001.json")) as fh:
        adds = [json.loads(l)["add"] for l in fh if '"add"' in l]
    assert adds
    sts = [json.loads(a["stats"]) for a in adds]
    for st in sts:
        assert set(st) == {"numRecords", "minValues", "maxValues", "nullCount"}
        assert "d" in st["minValues"]
        assert st["minValues"]["d"] <= st["maxValues"]["d"]
    assert sum(st["numRecords"] for st in sts) == 15  # whole table accounted


def test_analyze_backfills_stats_and_runner_maintain_analyze(spark, tmp_path, capsys):
    """analyze(): a table created WITHOUT stats_cols gains per-file
    min/max stats in its existing manifest (no rewrite, no new
    version), after which read_where prunes; re-analyze is a no-op;
    the CLI surface is --maintain analyze --stats-cols."""
    import datetime

    from bw_new_data_integration_spark import runner

    d0 = datetime.date(2024, 1, 1)
    df = spark.createDataFrame(
        [Row(b=b, k=b * 10 + i, d=d0 + datetime.timedelta(days=30 * b + i))
         for b in range(3) for i in range(5)]
    ).coalesce(1)
    t = ParquetKeyedTable(str(tmp_path / "t"), ["b", "k"], partition_by=["b"])
    t.overwrite(df)
    assert all("stats" not in f for f in t.manifest()["files"])

    rep = t.analyze(cols=["d"])
    assert rep == {"version": 0, "files_analyzed": 3, "files_total": 3}
    assert t.current_version() == 0  # in-place manifest update, no new version
    pruned, prep = t.read_where(spark, [("d", ">=", datetime.date(2024, 3, 1))], with_report=True)
    assert prep["files_skipped"] >= 2
    assert sorted(r["k"] for r in pruned.collect()) == [20, 21, 22, 23, 24]
    assert t.analyze(cols=["d"])["files_analyzed"] == 0  # idempotent

    with pytest.raises(ValueError, match="no columns"):
        t.analyze()

    # CLI: load a pipeline target, then backfill stats through runner
    troot = str(tmp_path / "targets")
    args = ["--query", "daily_sales", "--sf-dir", "/root/testdata/sf0.001",
            "--target-root", troot]
    assert runner.main(args) == 0
    rc = runner.main(args + ["--maintain", "analyze", "--stats-cols", "qty"])
    assert rc == 0
    out = capsys.readouterr().out
    assert "'maintain': 'analyze'" in out and "'files_analyzed':" in out
    tt = ParquetKeyedTable(str(tmp_path / "targets" / "target_daily_sales"), ["business_key"])
    assert any("stats" in f and "qty" in f["stats"] for f in tt.manifest()["files"])
    with pytest.raises(SystemExit, match="requires --stats-cols"):
        runner.main(args + ["--maintain", "analyze"])


def test_read_asof_timestamp_addressing(spark, tmp_path):
    """TIMESTAMP AS OF: commit manifests resolve a unix timestamp to
    the latest version at-or-before it; a pre-table timestamp resolves
    to None; a far-future one to the current version."""
    t = ParquetKeyedTable(str(tmp_path / "t"), ["k"])
    t.overwrite(spark.createDataFrame([Row(k=1, v=10)]))
    ts0 = t.manifest(0)["timestamp"]
    t.upsert(spark, spark.createDataFrame([Row(k=1, v=20)]))
    ts1 = t.manifest(1)["timestamp"]

    assert t.version_asof(ts0 - 1) is None
    assert t.read_asof(spark, ts0).collect()[0]["v"] == 10
    if ts1 > ts0:  # same-second commits collapse to the later version
        assert t.version_asof((ts0 + ts1) / 2) == 0
    assert t.read_asof(spark, ts1 + 3600).collect()[0]["v"] == 20


def test_streaming_sink_produces_stats_prunable_table(spark, tmp_path):
    """Closure of continuous ingest × data skipping: a foreachBatch
    keyed-upsert stream into a stats-collecting table leaves every
    commit's manifest carrying footer stats, so read_where prunes the
    streamed table exactly like a batch-built one."""
    import datetime

    from bw_new_data_integration_spark.streaming.stream import upsert_sink

    d0 = datetime.date(2024, 1, 1)
    src = str(tmp_path / "src")
    batch = spark.createDataFrame(
        [Row(b=b, k=b * 10 + i, d=d0 + datetime.timedelta(days=30 * b + i), v=1.0)
         for b in range(3) for i in range(5)]
    ).coalesce(1)
    batch.write.parquet(src)

    t = ParquetKeyedTable(
        str(tmp_path / "t"), ["b", "k"], partition_by=["b"], stats_cols=["d"]
    )
    stream = spark.readStream.schema(batch.schema).parquet(src)
    q = (
        upsert_sink(stream, t, str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    m = t.manifest()
    assert m and all("stats" in f for f in m["files"])
    pruned, rep = t.read_where(
        spark, [("d", ">=", datetime.date(2024, 3, 1))], with_report=True
    )
    assert rep["files_skipped"] >= 1
    assert sorted(r["k"] for r in pruned.collect()) == [20, 21, 22, 23, 24]


# ---------------------------------------------------------------------------
# File-pruned CDF + incremental materialized-view maintenance (round 9)
# ---------------------------------------------------------------------------


def _mv_base(spark, tmp_path, n=2000):
    t = ParquetKeyedTable(str(tmp_path / "mv_base"), ["business_key"])
    t.upsert(
        spark,
        spark.createDataFrame(
            [Row(business_key=f"k{i:04d}", grp=i % 7, v=float(i)) for i in range(n)]
        ),
    )
    t.compact(spark, target_file_bytes=2048)  # many files → pruning has grain
    return t


def test_cdf_file_pruning_matches_full_diff(spark, tmp_path):
    """changes() pruned to hard-link-differing files must equal the
    full-scan diff exactly, and scan strictly fewer files after a
    narrow-key commit carried most files forward."""
    t = _mv_base(spark, tmp_path)
    v0 = t.current_version()
    n_files = t.manifest(v0)["n_files"]
    assert n_files >= 8
    t.upsert(
        spark,
        spark.createDataFrame(
            [Row(business_key="k0100", grp=100 % 7, v=-1.0),
             Row(business_key="zzz_new", grp=0, v=9.0)]
        ),
    )
    v1 = t.current_version()
    pruned = t.changes(spark, v0, v1)
    control = t.changes(spark, v0, v1, prune_files=False)
    key = lambda r: (r["business_key"], r["_change_type"])  # noqa: E731
    assert sorted(map(key, pruned.collect())) == sorted(map(key, control.collect()))
    assert {(r["business_key"], r["_change_type"], r["v"]) for r in pruned.collect()} == {
        ("k0100", "update_postimage", -1.0),
        ("zzz_new", "insert", 9.0),
    }
    # the scale claim: O(churn) scan, not O(table)
    assert len(pruned.inputFiles()) < len(control.inputFiles())
    assert len(pruned.inputFiles()) <= 4


def test_cdf_update_preimages(spark, tmp_path):
    """include_preimages emits the source row of every update as
    update_preimage (Delta's four-type feed) — old values intact."""
    t = _mv_base(spark, tmp_path, n=50)
    v0 = t.current_version()
    t.upsert(spark, spark.createDataFrame([Row(business_key="k0007", grp=0, v=-7.0)]))
    rows = t.changes(spark, v0, include_preimages=True).collect()
    by_type = {r["_change_type"]: r for r in rows}
    assert set(by_type) == {"update_preimage", "update_postimage"}
    assert by_type["update_preimage"]["v"] == 7.0
    assert by_type["update_postimage"]["v"] == -7.0
    # default stays the three-type feed (k6 gate semantics unchanged)
    assert {r["_change_type"] for r in t.changes(spark, v0).collect()} == {
        "update_postimage"
    }


def test_maintain_rollup_incremental_equals_recompute(spark, tmp_path):
    """The incrementally-maintained rollup is BIT-equal to a full
    recompute after inserts, updates, and deletes; a refresh with no
    base movement commits nothing; a group whose count reaches zero is
    deleted from the rollup."""
    from bw_new_data_integration_spark.operators.matview import (
        _full_rollup,
        maintain_rollup,
    )

    t = _mv_base(spark, tmp_path, n=500)
    roll = ParquetKeyedTable(str(tmp_path / "mv_roll"), ["grp"])
    mv = lambda: maintain_rollup(  # noqa: E731
        spark, t, roll, ["grp"], {"sum_v": "v"}
    )
    assert mv()["action"] == "bootstrap"

    # updates + inserts + deletes, including wiping group 6 entirely
    t.upsert(
        spark,
        spark.createDataFrame(
            [Row(business_key=f"k{i:04d}", grp=i % 7, v=float(i) * 10) for i in range(0, 500, 3)]
            + [Row(business_key=f"new{i}", grp=i % 7, v=1.5) for i in range(40)]
        ),
    )
    t.delete_keys(
        spark,
        spark.createDataFrame(
            [Row(business_key=f"k{i:04d}") for i in range(500) if i % 7 == 6]
            + [Row(business_key=f"new{i}") for i in range(40) if i % 7 == 6]
        ),
    )
    stats = mv()
    assert stats["action"] == "incremental" and stats["groups_deleted"] == 1

    got = {
        (r["grp"]): (str(r["sum_v"]), r["n_rows"]) for r in roll.read(spark).collect()
    }
    want = {
        (r["grp"]): (str(r["sum_v"]), r["n_rows"])
        for r in _full_rollup(t.read(spark), ["grp"], {"sum_v": "v"}, "n_rows").collect()
    }
    assert got == want and 6 not in got

    # no base movement → no-op, no rollup commit
    v = roll.current_version()
    assert mv()["action"] == "noop"
    assert roll.current_version() == v

    # a compact is a logical no-op: the refresh across it sees an
    # EMPTY delta (every file renamed, no row changed) and commits
    # nothing to the rollup
    t.compact(spark, target_file_bytes=4096)
    stats = mv()
    assert stats["action"] == "incremental"
    assert stats["groups_upserted"] == 0 and stats["groups_deleted"] == 0
    assert roll.current_version() == v

    # key mismatch is a loud error
    import pytest as _pytest

    bad = ParquetKeyedTable(str(tmp_path / "mv_bad"), ["other"])
    with _pytest.raises(ValueError):
        maintain_rollup(spark, t, bad, ["grp"], {"sum_v": "v"})


def test_maintain_rollup_refresh_scans_only_churn(spark, tmp_path):
    """After a narrow-key base commit, the refresh's change feed scans
    O(churn) files (hard-link pruning), not the whole base."""
    from bw_new_data_integration_spark.operators.matview import maintain_rollup

    t = _mv_base(spark, tmp_path)
    roll = ParquetKeyedTable(str(tmp_path / "mv_roll"), ["grp"])
    maintain_rollup(spark, t, roll, ["grp"], {"sum_v": "v"})
    v0 = t.current_version()
    n_files = t.manifest(v0)["n_files"]
    t.upsert(spark, spark.createDataFrame([Row(business_key="k0123", grp=4, v=0.25)]))
    feed = t.changes(spark, v0, include_preimages=True)
    assert len(feed.inputFiles()) <= 4 < n_files
    stats = maintain_rollup(spark, t, roll, ["grp"], {"sum_v": "v"})
    assert stats["groups_upserted"] == 1 and stats["groups_deleted"] == 0
    got = {r["grp"]: r["n_rows"] for r in roll.read(spark).collect()}
    assert got[4] == sum(1 for i in range(2000) if i % 7 == 4)


def test_maintain_rollup_rebootstraps_after_base_vacuum(spark, tmp_path):
    """Retention racing the refresh: when the last-reflected base
    snapshot has been vacuumed, the refresh falls back to a full
    re-bootstrap instead of failing on a missing change feed."""
    from bw_new_data_integration_spark.operators.matview import (
        _full_rollup,
        maintain_rollup,
    )

    t = _mv_base(spark, tmp_path, n=300)
    roll = ParquetKeyedTable(str(tmp_path / "mv_roll"), ["grp"])
    maintain_rollup(spark, t, roll, ["grp"], {"sum_v": "v"})
    t.upsert(spark, spark.createDataFrame([Row(business_key="k0001", grp=1, v=-1.0)]))
    t.upsert(spark, spark.createDataFrame([Row(business_key="k0002", grp=2, v=-2.0)]))
    t.vacuum(keep_last=1)  # the reflected snapshot is gone
    stats = maintain_rollup(spark, t, roll, ["grp"], {"sum_v": "v"})
    assert stats["action"] == "bootstrap"
    got = {r["grp"]: (str(r["sum_v"]), r["n_rows"]) for r in roll.read(spark).collect()}
    want = {
        r["grp"]: (str(r["sum_v"]), r["n_rows"])
        for r in _full_rollup(t.read(spark), ["grp"], {"sum_v": "v"}, "n_rows").collect()
    }
    assert got == want


def test_maintain_rollup_multi_dim_multi_measure(spark, tmp_path):
    """Composite group keys and several SUM measures flow through the
    same signed-delta maintenance and stay bit-equal to recompute."""
    from bw_new_data_integration_spark.operators.matview import (
        _full_rollup,
        maintain_rollup,
    )

    t = ParquetKeyedTable(str(tmp_path / "mv2_base"), ["business_key"])
    rows = [
        Row(business_key=f"k{i:04d}", region=i % 3, cat=i % 5, a=float(i), b=i * 0.5)
        for i in range(600)
    ]
    t.upsert(spark, spark.createDataFrame(rows))
    roll = ParquetKeyedTable(str(tmp_path / "mv2_roll"), ["region", "cat"])
    measures = {"sum_a": "a", "sum_b": "b"}
    maintain_rollup(spark, t, roll, ["region", "cat"], measures)
    t.upsert(
        spark,
        spark.createDataFrame(
            [Row(business_key=f"k{i:04d}", region=i % 3, cat=i % 5, a=-1.0, b=2.25)
             for i in range(0, 600, 7)]
        ),
    )
    t.delete_keys(
        spark,
        spark.createDataFrame([Row(business_key=f"k{i:04d}") for i in range(0, 600, 11)]),
    )
    maintain_rollup(spark, t, roll, ["region", "cat"], measures)
    key = lambda r: (r["region"], r["cat"])  # noqa: E731
    got = {key(r): (str(r["sum_a"]), str(r["sum_b"]), r["n_rows"])
           for r in roll.read(spark).collect()}
    want = {key(r): (str(r["sum_a"]), str(r["sum_b"]), r["n_rows"])
            for r in _full_rollup(
                t.read(spark), ["region", "cat"], measures, "n_rows").collect()}
    assert got == want


def test_cdf_file_pruning_partitioned_table(spark, tmp_path):
    """File-pruned CDF on a directory-partitioned table: the basePath
    subset read must restore hive partition columns, the pruned diff
    must equal the full-scan control, and a one-partition patch must
    not scan the other partitions' files."""
    t = ParquetKeyedTable(str(tmp_path / "pcdf"), ["d", "k"], partition_by=["d"])
    t.upsert(
        spark,
        spark.createDataFrame(
            [Row(d=f"2024-01-{1 + i % 9:02d}", k=f"k{i:03d}", v=i) for i in range(180)]
        ),
    )
    v0 = t.current_version()
    t.upsert(
        spark,
        spark.createDataFrame(
            [Row(d="2024-01-03", k="k002", v=-2), Row(d="2024-01-03", k="newk", v=99)]
        ),
    )
    v1 = t.current_version()
    pruned = t.changes(spark, v0, v1, include_preimages=True)
    control = t.changes(spark, v0, v1, prune_files=False, include_preimages=True)
    key = lambda r: (str(r["d"]), r["k"], r["_change_type"], r["v"])  # noqa: E731
    rows = sorted(map(key, pruned.collect()))
    assert rows == sorted(map(key, control.collect()))
    # hive partition-type inference reads d back as a DATE on both the
    # pruned and full paths (pre-existing read() semantics)
    assert rows == [
        ("2024-01-03", "k002", "update_postimage", -2),
        ("2024-01-03", "k002", "update_preimage", 2),
        ("2024-01-03", "newk", "insert", 99),
    ]
    # only the touched partition's files are scanned (both versions)
    assert all("d=2024-01-03" in f for f in pruned.inputFiles())
    assert len(pruned.inputFiles()) < len(control.inputFiles())


def test_cdf_across_schema_evolution(spark, tmp_path):
    """The change feed speaks the destination schema after an
    evolve_schema upsert (Delta CDF semantics): rows the batch never
    touched produce NO diff row (their new column is null on both
    sides), updates carry a null preimage for the added column."""
    t = ParquetKeyedTable(str(tmp_path / "evo"), ["k"])
    t.upsert(spark, spark.createDataFrame([Row(k=i, v=i) for i in range(20)]))
    v0 = t.current_version()
    t.upsert(
        spark,
        spark.createDataFrame([Row(k=3, v=33, extra="x"), Row(k=99, v=99, extra="y")]),
        evolve_schema=True,
    )
    rows = {
        (r["k"], r["_change_type"]): (r["v"], r["extra"])
        for r in t.changes(spark, v0, include_preimages=True).collect()
    }
    assert rows == {
        (3, "update_preimage"): (3, None),
        (3, "update_postimage"): (33, "x"),
        (99, "insert"): (99, "y"),
    }


def test_cdf_upsert_with_extra_source_columns(spark, tmp_path):
    """ADVICE r10: an upsert whose source carries EXTRA columns commits
    on a change_feed table exactly as it does on a plain one —
    merge_upsert drops the extras, and the change events are computed
    over the target's columns (what the merge actually writes)."""
    t = ParquetKeyedTable(str(tmp_path / "xcol"), ["k"], change_feed=True)
    t.upsert(spark, spark.createDataFrame([Row(k=i, v=i) for i in range(10)]))
    v0 = t.current_version()
    # extra column `junk` not in the target: silently dropped, commit succeeds
    t.upsert(
        spark,
        spark.createDataFrame(
            [Row(k=3, v=33, junk="x"), Row(k=99, v=99, junk="y"), Row(k=4, v=4, junk="z")]
        ),
    )
    rows = {
        (r["k"], r["_change_type"]): r["v"]
        for r in t.changes(spark, v0, include_preimages=True).collect()
    }
    # k=4 is byte-identical after dropping junk → no event
    assert rows == {
        (3, "update_preimage"): 3,
        (3, "update_postimage"): 33,
        (99, "insert"): 99,
    }
    assert "junk" not in t.read(spark).columns


def test_checkpoint_txn_fallback_is_carrying_version(spark, tmp_path):
    """ADVICE r10: a txn marker WITHOUT a base_version field (a foreign
    writer's payload) exports its carrying table version into the
    checkpoint, not a masking 0."""
    import pyarrow.parquet as pq

    t = ParquetKeyedTable(str(tmp_path / "ftxn"), ["k"])
    t.upsert(spark, spark.createDataFrame([Row(k=1, v=1)]))  # v0
    t.set_commit_txn({"app": "foreign_writer"})  # no base_version
    t.upsert(spark, spark.createDataFrame([Row(k=2, v=2)]))  # v1, marked
    t.upsert(spark, spark.createDataFrame([Row(k=3, v=3)]))  # v2
    t.export_delta_log(spark)
    ckpt = os.path.join(
        t.path, "_delta_log", f"{t.current_version():020d}.checkpoint.parquet"
    )
    rows = pq.read_table(ckpt).to_pylist()
    txns = [r["txn"] for r in rows if r.get("txn") is not None]
    assert [x["version"] for x in txns] == [1]  # the marker rode v1
    # and the sidecar-seeded path (marker's commit vacuumed) agrees
    t.vacuum(keep_last=1)
    t.export_delta_log(spark)
    rows = pq.read_table(ckpt).to_pylist()
    txns = [r["txn"] for r in rows if r.get("txn") is not None]
    assert [x["version"] for x in txns] == [1]


def test_maintain_rollup_replayed_epoch_commits_nothing(spark, tmp_path):
    """Exactly-once composition: re-upserting an identical batch makes
    a new base version with an EMPTY change feed, so the refresh
    commits nothing to the rollup (foreachBatch replay safety)."""
    from bw_new_data_integration_spark.operators.matview import maintain_rollup

    t = ParquetKeyedTable(str(tmp_path / "rp_base"), ["k"])
    roll = ParquetKeyedTable(str(tmp_path / "rp_roll"), ["grp"])
    batch = spark.createDataFrame([Row(k=i, grp=i % 3, v=float(i)) for i in range(60)])
    t.upsert(spark, batch)
    maintain_rollup(spark, t, roll, ["grp"], {"sum_v": "v"})
    rv = roll.current_version()
    t.upsert(spark, batch)  # replayed epoch: identical rows, new version
    assert t.current_version() == 1
    stats = maintain_rollup(spark, t, roll, ["grp"], {"sum_v": "v"})
    assert stats["action"] == "incremental"
    assert stats["groups_upserted"] == 0 and stats["groups_deleted"] == 0
    assert roll.current_version() == rv


def test_maintain_rollup_property_random_commit_sequences(spark, tmp_path):
    """Property: for ANY sequence of upsert/delete batches, the
    incrementally-maintained rollup equals the from-scratch recompute
    bit-for-bit (decimal sums), including group births and deaths.
    Hypothesis drives the commit sequences; each example replays onto a
    fresh table and refreshes after every commit."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from bw_new_data_integration_spark.operators.matview import (
        _full_rollup,
        maintain_rollup,
    )

    ops = st.lists(
        st.tuples(
            st.sampled_from(["upsert", "delete"]),
            st.lists(st.integers(min_value=0, max_value=39), min_size=1,
                     max_size=12, unique=True),
            st.integers(min_value=-3, max_value=3),
        ),
        min_size=1,
        max_size=4,
    )
    counter = iter(range(10_000))

    @settings(max_examples=6, deadline=None)
    @given(ops)
    def run(seq):
        i = next(counter)
        # two variants per example: the classic snapshot-diff feed with
        # a refresh per commit, and a CDC-on-write base folded in ONE
        # multi-commit window (per-commit events unioned — the case
        # where transient extrema inserted then removed across commits
        # must trigger recomputes, never silent corruption)
        for cdf in (False, True):
            t = ParquetKeyedTable(
                str(tmp_path / f"pb{i}_{int(cdf)}"), ["k"], change_feed=cdf
            )
            roll = ParquetKeyedTable(str(tmp_path / f"pr{i}_{int(cdf)}"), ["grp"])
            kw = dict(min_measures={"min_v": "v"}, max_measures={"max_v": "v"})
            t.upsert(
                spark,
                spark.createDataFrame(
                    [Row(k=j, grp=j % 4, v=float(j)) for j in range(20)]
                ),
            )
            maintain_rollup(spark, t, roll, ["grp"], {"sum_v": "v"}, **kw)
            for kind, keys, mult in seq:
                if kind == "upsert":
                    t.upsert(
                        spark,
                        spark.createDataFrame(
                            [Row(k=j, grp=j % 4, v=float(j * mult)) for j in keys]
                        ),
                    )
                else:
                    t.delete_keys(spark, spark.createDataFrame([Row(k=j) for j in keys]))
                if not cdf:
                    maintain_rollup(spark, t, roll, ["grp"], {"sum_v": "v"}, **kw)
            if cdf:
                assert all(
                    t.has_commit_changes(v) for v in range(1, t.current_version() + 1)
                )
                maintain_rollup(spark, t, roll, ["grp"], {"sum_v": "v"}, **kw)
            got = {r["grp"]: (str(r["sum_v"]), r["min_v"], r["max_v"], r["n_rows"])
                   for r in roll.read(spark).collect()}
            want = {r["grp"]: (str(r["sum_v"]), r["min_v"], r["max_v"], r["n_rows"])
                    for r in _full_rollup(t.read(spark), ["grp"], {"sum_v": "v"},
                                          "n_rows", {"min_v": "v"},
                                          {"max_v": "v"}).collect()}
            assert got == want

    run()


def test_maintain_rollup_minmax_incremental_and_recompute(spark, tmp_path):
    """MIN/MAX maintenance: insert-only feeds fold in monotonically
    (zero recomputed groups); removing a group's stored extremum
    triggers a recompute of exactly the affected groups; the result
    always equals the from-scratch aggregate."""
    from bw_new_data_integration_spark.operators.matview import (
        _full_rollup,
        maintain_rollup,
    )

    t = ParquetKeyedTable(str(tmp_path / "mm_base"), ["k"])
    roll = ParquetKeyedTable(str(tmp_path / "mm_roll"), ["grp"])
    kw = dict(min_measures={"min_v": "v"}, max_measures={"max_v": "v"})
    mv = lambda: maintain_rollup(  # noqa: E731
        spark, t, roll, ["grp"], {"sum_v": "v"}, **kw
    )

    def check():
        got = {r["grp"]: (str(r["sum_v"]), r["min_v"], r["max_v"], r["n_rows"])
               for r in roll.read(spark).collect()}
        want = {r["grp"]: (str(r["sum_v"]), r["min_v"], r["max_v"], r["n_rows"])
                for r in _full_rollup(t.read(spark), ["grp"], {"sum_v": "v"},
                                      "n_rows", {"min_v": "v"}, {"max_v": "v"}).collect()}
        assert got == want

    t.upsert(spark, spark.createDataFrame(
        [Row(k=i, grp=i % 3, v=float(i)) for i in range(90)]))
    mv()
    check()

    # insert-only: strictly new keys with non-extreme values → monotone
    # fold, NO recompute
    t.upsert(spark, spark.createDataFrame(
        [Row(k=1000 + g, grp=g, v=10.5) for g in range(3)]))
    stats = mv()
    assert stats["groups_recomputed"] == 0 and stats["groups_upserted"] == 3
    check()

    # new global max for group 0 via insert → still monotone
    t.upsert(spark, spark.createDataFrame([Row(k=2000, grp=0, v=500.0)]))
    stats = mv()
    assert stats["groups_recomputed"] == 0
    check()

    # delete group 0's stored max (k=2000, v=500) → ONLY group 0
    # recomputes; group 1/2 untouched
    t.delete_keys(spark, spark.createDataFrame([Row(k=2000)]))
    stats = mv()
    assert stats["groups_recomputed"] == 1
    check()

    # update that shrinks group 1's max (k=88, v=88 is max of grp 1)
    t.upsert(spark, spark.createDataFrame([Row(k=88, grp=1, v=-1.0)]))
    stats = mv()
    assert stats["groups_recomputed"] == 1
    check()

    # delete a non-extreme row → pure delta, no recompute
    t.delete_keys(spark, spark.createDataFrame([Row(k=40)]))
    stats = mv()
    assert stats["groups_recomputed"] == 0
    check()


def test_maintain_rollup_prunes_rollup_side_read(spark, tmp_path):
    """The refresh's join reads only the rollup files whose key range
    intersects the delta's group-key interval (range-clustered rollup +
    persisted per-file bounds), not the whole rollup."""
    from bw_new_data_integration_spark.operators.matview import maintain_rollup

    t = ParquetKeyedTable(str(tmp_path / "pr_base"), ["k"])
    t.upsert(
        spark,
        spark.createDataFrame(
            [Row(k=i, grp=i % 500, v=float(i)) for i in range(2000)]
        ),
    )
    roll = ParquetKeyedTable(str(tmp_path / "pr_roll"), ["grp"])
    maintain_rollup(spark, t, roll, ["grp"], {"sum_v": "v"})
    roll.compact(spark, target_file_bytes=1024)  # many rollup files
    n_roll_files = roll.manifest()["n_files"]
    assert n_roll_files >= 4
    # churn one base key -> one group -> the join needs ~1 rollup file
    t.upsert(spark, spark.createDataFrame([Row(k=123, grp=123 % 500, v=9.0)]))
    stats = maintain_rollup(spark, t, roll, ["grp"], {"sum_v": "v"})
    assert stats["groups_upserted"] == 1
    assert stats["rollup_files_total"] == n_roll_files
    assert stats["rollup_files_read"] is not None
    assert stats["rollup_files_read"] < n_roll_files
    got = {r["grp"]: r["n_rows"] for r in roll.read(spark).collect()}
    assert got[123] == sum(1 for i in range(2000) if i % 500 == 123)


def test_maintain_rollup_crash_recovery_exactly_once(spark, tmp_path):
    """Crash-window recovery (Delta SetTransaction pattern): the live
    refresh commit carries a txn marker stamped atomically with the
    commit (ONE combined delete+merge commit where the table supports
    it; delete-then-upsert on the fallback, delete first because it is
    idempotent), and recovery keys off max(sidecar, marker) — so dying
    after the commits but before the sidecar write noops on re-run (no
    double-applied delta), and dying inside the rollup write re-runs
    to the exact recompute."""
    from unittest import mock

    from bw_new_data_integration_spark.operators.matview import (
        _full_rollup,
        maintain_rollup,
    )

    def scenario(crash_in, sub):
        root = tmp_path / sub
        t = ParquetKeyedTable(str(root / "b"), ["k"])
        roll = ParquetKeyedTable(str(root / "r"), ["grp"])
        t.upsert(
            spark,
            spark.createDataFrame([Row(k=i, grp=i % 5, v=float(i)) for i in range(50)]),
        )
        maintain_rollup(spark, t, roll, ["grp"], {"sum_v": "v"})
        t.delete_keys(
            spark, spark.createDataFrame([Row(k=i) for i in range(50) if i % 5 == 4])
        )
        t.upsert(spark, spark.createDataFrame([Row(k=0, grp=0, v=100.0)]))
        if crash_in == "state":
            with mock.patch(
                "bw_new_data_integration_spark.operators.matview._write_state",
                side_effect=RuntimeError("crash"),
            ):
                with pytest.raises(RuntimeError):
                    maintain_rollup(spark, t, roll, ["grp"], {"sum_v": "v"})
        else:
            # crash the rollup WRITE whichever path the refresh takes:
            # the combined delete+merge commit (apply_changes) or the
            # sequential fallback's upsert
            orig_up = ParquetKeyedTable.upsert
            orig_ac = ParquetKeyedTable.apply_changes

            def boom_up(self, *a, **k):
                if self.path == roll.path:
                    raise RuntimeError("crash")
                return orig_up(self, *a, **k)

            def boom_ac(self, *a, **k):
                if self.path == roll.path:
                    raise RuntimeError("crash")
                return orig_ac(self, *a, **k)

            with mock.patch.object(ParquetKeyedTable, "upsert", boom_up), \
                    mock.patch.object(ParquetKeyedTable, "apply_changes", boom_ac):
                with pytest.raises(RuntimeError):
                    maintain_rollup(spark, t, roll, ["grp"], {"sum_v": "v"})
        stats = maintain_rollup(spark, t, roll, ["grp"], {"sum_v": "v"})
        got = {r["grp"]: (str(r["sum_v"]), r["n_rows"])
               for r in roll.read(spark).collect()}
        want = {r["grp"]: (str(r["sum_v"]), r["n_rows"])
                for r in _full_rollup(t.read(spark), ["grp"], {"sum_v": "v"},
                                      "n_rows").collect()}
        assert got == want
        return stats["action"]

    # both commits landed, sidecar write died → marker makes it a noop
    assert scenario("state", "cs") == "noop"
    # delete landed, upsert died → full re-run converges (delete is
    # idempotent, the delta re-derives the same dead set)
    assert scenario("upsert", "cu") == "incremental"


def test_delta_log_exports_txn_action(spark, tmp_path):
    """A commit stamped via set_commit_txn exports as the Delta
    protocol's SetTransaction action ({"txn": {appId, version}}) in
    that version's log entry."""
    import json as _json

    t = ParquetKeyedTable(str(tmp_path / "txn"), ["k"])
    t.upsert(spark, spark.createDataFrame([Row(k=1, v=1)]))
    t.set_commit_txn({"app": "matview", "base_path": "/b", "base_version": 7})
    t.upsert(spark, spark.createDataFrame([Row(k=2, v=2)]))
    t.export_delta_log(spark)
    log = os.path.join(t.path, "_delta_log", f"{t.current_version():020d}.json")
    actions = [
        _json.loads(line) for line in open(log) if line.strip()
    ]
    txns = [a["txn"] for a in actions if "txn" in a]
    assert txns == [{"appId": "matview", "version": 7, "lastUpdated": txns[0]["lastUpdated"]}]
    # marker readable back through the table API too
    assert t.last_txn("matview")["base_version"] == 7
    # the un-stamped earlier commit carries none
    first = os.path.join(t.path, "_delta_log", f"{0:020d}.json")
    assert not any(
        "txn" in _json.loads(line) for line in open(first) if line.strip()
    )


def test_keyed_table_model_based_lifecycle(spark, tmp_path):
    """Model-based check of the table format: a random sequence of
    upsert / delete / compact / vacuum ops replayed against a plain
    dict model — after every op the current read equals the model, and
    every non-vacuumed historical version still reads back as the
    model state it committed (time travel is never silently mutated by
    later commits, compaction, or retention)."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    ops = st.lists(
        st.one_of(
            st.tuples(
                st.just("upsert"),
                st.lists(st.integers(0, 30), min_size=1, max_size=8, unique=True),
                st.integers(-2, 2),
            ),
            st.tuples(
                st.just("delete"),
                st.lists(st.integers(0, 30), min_size=1, max_size=8, unique=True),
                st.just(0),
            ),
            st.tuples(st.just("compact"), st.just([]), st.just(0)),
            st.tuples(st.just("vacuum"), st.just([]), st.integers(1, 3)),
        ),
        min_size=2,
        max_size=6,
    )
    counter = iter(range(10_000))

    @settings(max_examples=5, deadline=None)
    @given(ops)
    def run(seq):
        i = next(counter)
        t = ParquetKeyedTable(str(tmp_path / f"mb{i}"), ["k"])
        model = {j: float(j) for j in range(20)}
        t.upsert(
            spark,
            spark.createDataFrame([Row(k=k, v=v) for k, v in model.items()]),
        )
        history = [dict(model)]  # index = version; None = vacuumed
        for kind, keys, arg in seq:
            if kind == "upsert":
                batch = {k: float(k * arg) for k in keys}
                t.upsert(
                    spark,
                    spark.createDataFrame([Row(k=k, v=v) for k, v in batch.items()]),
                )
                model.update(batch)
                history.append(dict(model))
            elif kind == "delete":
                t.delete_keys(spark, spark.createDataFrame([Row(k=k) for k in keys]))
                for k in keys:
                    model.pop(k, None)
                history.append(dict(model))
            elif kind == "compact":
                t.compact(spark, target_file_bytes=2048)
                history.append(dict(model))  # logical no-op, new version
            else:
                for v in t.vacuum(keep_last=arg):
                    history[v] = None
            got = {r["k"]: r["v"] for r in t.read(spark).collect()}
            assert got == model, (kind, keys, arg)
        # every surviving version still reads as the state it committed
        assert t.current_version() == len(history) - 1
        for v, snap in enumerate(history):
            if snap is None:
                continue
            got = {r["k"]: r["v"] for r in t.read(spark, version=v).collect()}
            assert got == snap, f"time travel to v{v} drifted"

    run()


def test_read_where_property_equals_full_scan_filter(spark, tmp_path):
    """Property: for random predicate conjunctions over int/string
    columns (with nulls present), read_where's manifest-pruned read
    returns exactly the rows of a plain full-scan filter — pruning can
    change the plan, never the answer."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    t = ParquetKeyedTable(
        str(tmp_path / "rw"), ["k"], stats_cols=["n", "s"]
    )
    rows = [
        Row(
            k=f"k{i:04d}",
            n=(None if i % 17 == 0 else i % 97),
            s=(None if i % 23 == 0 else f"s{i % 41:02d}"),
            v=float(i),
        )
        for i in range(800)
    ]
    t.upsert(spark, spark.createDataFrame(rows))
    t.compact(spark, target_file_bytes=4096)  # multiple files → real pruning
    full = t.read(spark)

    int_pred = st.tuples(
        st.just("n"), st.sampled_from(["=", "<", "<=", ">", ">="]),
        st.integers(-5, 100),
    )
    str_pred = st.tuples(
        st.just("s"), st.sampled_from(["=", "<", ">="]),
        st.sampled_from(["s00", "s13", "s27", "s40", "zz"]),
    )
    between_pred = st.tuples(
        st.just("n"), st.just("between"),
        st.tuples(st.integers(0, 50), st.integers(50, 100)),
    )
    in_pred = st.tuples(
        st.just("s"), st.just("in"),
        st.lists(st.sampled_from(["s01", "s07", "s22", "nope"]),
                 min_size=1, max_size=3, unique=True),
    )
    preds = st.lists(
        st.one_of(int_pred, str_pred, between_pred, in_pred),
        min_size=1, max_size=3,
    )

    def sql_cond(col, op, val):
        if op == "between":
            return (F.col(col) >= F.lit(val[0])) & (F.col(col) <= F.lit(val[1]))
        if op == "in":
            return F.col(col).isin(list(val))
        return {
            "=": F.col(col) == F.lit(val),
            "<": F.col(col) < F.lit(val),
            "<=": F.col(col) <= F.lit(val),
            ">": F.col(col) > F.lit(val),
            ">=": F.col(col) >= F.lit(val),
        }[op]

    @settings(max_examples=15, deadline=None)
    @given(preds)
    def run(ps):
        got = {r["k"] for r in t.read_where(spark, ps).collect()}
        cond = F.lit(True)
        for col, op, val in ps:
            cond = cond & sql_cond(col, op, val)
        want = {r["k"] for r in full.where(cond).collect()}
        assert got == want, ps

    run()


def test_cdf_pruning_property_all_version_pairs(spark, tmp_path):
    """Property: on a randomly-built history (upserts, deletes, a
    compact), the file-pruned change feed equals the full-scan control
    for EVERY version pair (i, j), i < j, preimages included — the
    hard-link identity argument has no edge that depends on which
    versions you diff across."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    ops = st.lists(
        st.one_of(
            st.tuples(
                st.just("upsert"),
                st.lists(st.integers(0, 25), min_size=1, max_size=6, unique=True),
                st.integers(-2, 2),
            ),
            st.tuples(
                st.just("delete"),
                st.lists(st.integers(0, 25), min_size=1, max_size=6, unique=True),
                st.just(0),
            ),
            st.tuples(st.just("compact"), st.just([]), st.just(0)),
        ),
        min_size=1,
        max_size=3,
    )
    counter = iter(range(10_000))

    @settings(max_examples=4, deadline=None)
    @given(ops)
    def run(seq):
        i = next(counter)
        t = ParquetKeyedTable(str(tmp_path / f"cp{i}"), ["k"])
        t.upsert(
            spark,
            spark.createDataFrame([Row(k=j, v=float(j)) for j in range(15)]),
        )
        for kind, keys, mult in seq:
            if kind == "upsert":
                t.upsert(
                    spark,
                    spark.createDataFrame(
                        [Row(k=j, v=float(j * mult)) for j in keys]
                    ),
                )
            elif kind == "delete":
                t.delete_keys(spark, spark.createDataFrame([Row(k=j) for j in keys]))
            else:
                t.compact(spark, target_file_bytes=2048)
        cur = t.current_version()
        key = lambda r: (r["k"], r["_change_type"], r["v"])  # noqa: E731
        for a in range(cur + 1):
            for b in range(a + 1, cur + 1):
                pruned = t.changes(spark, a, b, include_preimages=True)
                control = t.changes(
                    spark, a, b, include_preimages=True, prune_files=False
                )
                assert sorted(map(key, pruned.collect())) == sorted(
                    map(key, control.collect())
                ), (a, b, seq)

    run()


def test_delta_checkpoint_carries_txn_through_vacuum(spark, tmp_path):
    """SetTransactions survive log truncation: after vacuuming away the
    marked commit's own log entry, the exported checkpoint still
    carries the latest txn per appId (the protocol's requirement, so
    idempotent writers never lose their watermark)."""
    import pyarrow.parquet as pq

    t = ParquetKeyedTable(str(tmp_path / "ctxn"), ["k"])
    t.upsert(spark, spark.createDataFrame([Row(k=1, v=1)]))
    t.set_commit_txn({"app": "matview", "base_path": "/b", "base_version": 3})
    t.upsert(spark, spark.createDataFrame([Row(k=2, v=2)]))
    t.upsert(spark, spark.createDataFrame([Row(k=3, v=3)]))
    # v0 (unmarked) is truncated away; the marked v1 survives, and the
    # checkpoint at the LATEST version must still carry its txn even
    # though v2's own log entry has none. (A marker whose commit is
    # itself vacuumed is gone with its manifest — engine-side recovery
    # then rests on the matview state sidecar, and losing both only
    # costs a re-bootstrap.)
    t.vacuum(keep_last=2)
    t.export_delta_log(spark)
    ckpt = os.path.join(
        t.path, "_delta_log", f"{t.current_version():020d}.checkpoint.parquet"
    )
    rows = pq.read_table(ckpt).to_pylist()
    txns = [r["txn"] for r in rows if r.get("txn") is not None]
    assert txns == [{"appId": "matview", "version": 3, "lastUpdated": txns[0]["lastUpdated"]}]


def test_vacuumed_txn_marker_survives_via_sidecar(spark, tmp_path):
    """ADVICE r9: the latest SetTransaction per appId must survive even
    when the commit that CARRIED it is vacuumed — the txn sidecar
    (folded on every flip) keeps both ``last_txn`` and the exported
    checkpoints truthful after log truncation."""
    import pyarrow.parquet as pq

    t = ParquetKeyedTable(str(tmp_path / "vtxn"), ["k"])
    t.set_commit_txn({"app": "matview", "base_path": "/b", "base_version": 9})
    t.upsert(spark, spark.createDataFrame([Row(k=1, v=1)]))  # v0, marked
    t.upsert(spark, spark.createDataFrame([Row(k=2, v=2)]))  # v1
    t.upsert(spark, spark.createDataFrame([Row(k=3, v=3)]))  # v2
    t.vacuum(keep_last=1)  # the MARKED manifest is deleted
    assert t.manifest(0) is None
    got = t.last_txn("matview")
    assert got is not None and got["base_version"] == 9
    # the exported checkpoint retains the marker too
    t.export_delta_log(spark)
    ckpt = os.path.join(
        t.path, "_delta_log", f"{t.current_version():020d}.checkpoint.parquet"
    )
    rows = pq.read_table(ckpt).to_pylist()
    txns = [r["txn"] for r in rows if r.get("txn") is not None]
    assert [x["version"] for x in txns] == [9]
    # steady state: the sidecar is synced through the current version,
    # so the read side walks zero manifests
    import json as _json

    sc = _json.load(open(os.path.join(t.path, "_txns.json")))
    assert sc["asof"] == t.current_version()


def test_failed_commit_clears_pending_txn(spark, tmp_path):
    """ADVICE r9: a txn marker stamped for a commit that RAISES must
    not be inherited by the next unrelated commit (that would falsely
    record the failed delta as applied — silently lost updates)."""
    import pytest as _pytest

    t = ParquetKeyedTable(str(tmp_path / "ftxn"), ["k"])
    t.upsert(spark, spark.createDataFrame([Row(k=1, v=1)]))
    t.set_commit_txn({"app": "matview", "base_path": "/b", "base_version": 5})
    with _pytest.raises(ValueError, match="strict upsert"):
        t.upsert(
            spark,
            spark.createDataFrame([Row(k=7, v=1), Row(k=7, v=2)]),
            strict=True,
        )
    assert "_pending_txn" not in t.__dict__
    t.upsert(spark, spark.createDataFrame([Row(k=8, v=8)]))
    assert "txn" not in t.manifest()
    assert t.last_txn("matview") is None


def test_maintain_rollup_avg_ratio_measures(spark, tmp_path):
    """AVG and ratio measures are maintained as additive component
    sums and derived at read (finish_rollup): equal to deriving from a
    from-scratch recompute across updates, deletes, and NULL measure
    values (AVG skips nulls like SQL); zero-denominator ratios and
    all-null AVG groups are NULL; a second refresh is a no-op."""
    from bw_new_data_integration_spark.operators.matview import (
        _full_rollup,
        _expand_measures,
        finish_rollup,
        maintain_rollup,
    )

    t = ParquetKeyedTable(str(tmp_path / "ar_base"), ["k"])
    rows = [
        Row(
            k=i,
            grp=i % 5,
            qty=None if i % 11 == 0 else float(i % 13),
            # group 4: every denominator value is 0 → NULL ratio
            price=0.0 if i % 5 == 4 else float(i),
            disc=float(i) * 0.1,
        )
        for i in range(400)
    ]
    t.upsert(spark, spark.createDataFrame(rows, "k long, grp long, qty double, price double, disc double"))
    roll = ParquetKeyedTable(str(tmp_path / "ar_roll"), ["grp"])
    avg = {"avg_qty": "qty"}
    ratio = {"disc_rate": ("disc", "price")}
    mv = lambda: maintain_rollup(  # noqa: E731
        spark, t, roll, ["grp"], {"sum_price": "price"},
        avg_measures=avg, ratio_measures=ratio,
    )
    assert mv()["action"] == "bootstrap"
    # group 3 becomes all-NULL qty via updates; deletes hit group 2
    t.upsert(
        spark,
        spark.createDataFrame(
            [Row(k=i, grp=i % 5, qty=None, price=float(i) * 2, disc=1.0)
             for i in range(3, 400, 5)],
            "k long, grp long, qty double, price double, disc double",
        ),
    )
    t.delete_keys(spark, spark.createDataFrame([Row(k=i) for i in range(2, 400, 10)]))
    stats = mv()
    assert stats["action"] == "incremental"

    def as_map(df):
        return {
            r["grp"]: tuple(
                None if r[c] is None else round(r[c], 9)
                for c in ("sum_price", "avg_qty", "disc_rate", "n_rows")
            )
            for r in df.collect()
        }

    got = as_map(finish_rollup(roll.read(spark), avg, ratio))
    want = as_map(
        finish_rollup(
            _full_rollup(
                t.read(spark), ["grp"],
                _expand_measures({"sum_price": "price"}, avg, ratio), "n_rows",
            ),
            avg, ratio,
        )
    )
    assert got == want
    # group 3 avg is NULL (all-null qty); group 4 ratio is NULL (0 denom)
    assert got[3][1] is None and got[4][2] is None
    # replay: no base movement → no rollup commit
    v = roll.current_version()
    assert mv()["action"] == "noop" and roll.current_version() == v


def test_maintain_rollup_rejects_null_group_keys(spark, tmp_path):
    """ADVICE r9: null group-key values would silently corrupt the
    keyed upsert/delete (null-unsafe key equality) — both the bootstrap
    and the incremental path must fail loud BEFORE committing."""
    import pytest as _pytest

    from bw_new_data_integration_spark.operators.matview import maintain_rollup

    schema = "k long, grp string, v double"
    t = ParquetKeyedTable(str(tmp_path / "ng_base"), ["k"])
    t.upsert(
        spark,
        spark.createDataFrame(
            [Row(k=i, grp=None if i == 3 else f"g{i % 4}", v=1.0) for i in range(50)],
            schema,
        ),
    )
    roll = ParquetKeyedTable(str(tmp_path / "ng_roll"), ["grp"])
    with _pytest.raises(ValueError, match="NULL group-key"):
        maintain_rollup(spark, t, roll, ["grp"], {"sum_v": "v"})
    assert not roll.exists()

    # clean bootstrap, then a null-group row arrives in the feed
    t2 = ParquetKeyedTable(str(tmp_path / "ng2_base"), ["k"])
    t2.upsert(
        spark,
        spark.createDataFrame(
            [Row(k=i, grp=f"g{i % 4}", v=1.0) for i in range(50)], schema
        ),
    )
    roll2 = ParquetKeyedTable(str(tmp_path / "ng2_roll"), ["grp"])
    maintain_rollup(spark, t2, roll2, ["grp"], {"sum_v": "v"})
    v = roll2.current_version()
    t2.upsert(spark, spark.createDataFrame([Row(k=99, grp=None, v=5.0)], schema))
    with _pytest.raises(ValueError, match="NULL group-key"):
        maintain_rollup(spark, t2, roll2, ["grp"], {"sum_v": "v"})
    assert roll2.current_version() == v  # nothing committed


def test_maintain_rollup_repointed_base_rebootstraps(spark, tmp_path):
    """ADVICE r9: the state sidecar's watermark must only apply to the
    base it was recorded against — repointing a rollup at a different
    base re-bootstraps instead of silently skipping deltas."""
    from bw_new_data_integration_spark.operators.matview import maintain_rollup

    a = ParquetKeyedTable(str(tmp_path / "rp_a"), ["k"])
    a.upsert(spark, spark.createDataFrame([Row(k=i, grp=i % 3, v=1.0) for i in range(60)]))
    a.upsert(spark, spark.createDataFrame([Row(k=i, grp=i % 3, v=2.0) for i in range(60, 90)]))
    b = ParquetKeyedTable(str(tmp_path / "rp_b"), ["k"])
    b.upsert(spark, spark.createDataFrame([Row(k=i, grp=i % 3, v=7.0) for i in range(30)]))

    roll = ParquetKeyedTable(str(tmp_path / "rp_roll"), ["grp"])
    maintain_rollup(spark, a, roll, ["grp"], {"sum_v": "v"})
    # repoint at b (same rollup): a's version-2 watermark must not be
    # interpreted against b's history
    stats = maintain_rollup(spark, b, roll, ["grp"], {"sum_v": "v"})
    assert stats["action"] == "bootstrap"
    got = {r["grp"]: (str(r["sum_v"]), r["n_rows"]) for r in roll.read(spark).collect()}
    assert got == {0: ("70.000000", 10), 1: ("70.000000", 10), 2: ("70.000000", 10)}


def test_minmax_recompute_scan_is_file_pruned(spark, tmp_path):
    """VERDICT r9 #5: when an extremum is removed, the group-scoped
    recompute routes through footer-stats pruning on the group column —
    on a group-correlated layout the refresh reads only the files whose
    group range intersects the affected groups, never the whole base."""
    from bw_new_data_integration_spark.operators.matview import (
        _full_rollup,
        maintain_rollup,
    )

    t = ParquetKeyedTable(str(tmp_path / "pr_base"), ["k"], stats_cols=["grp"])
    # grp correlated with the cluster key: grp = k // 500
    t.upsert(
        spark,
        spark.createDataFrame(
            [Row(k=i, grp=i // 500, v=float(i)) for i in range(4000)]
        ),
    )
    t.compact(spark, target_file_bytes=4096)  # many files, each ~one group
    roll = ParquetKeyedTable(str(tmp_path / "pr_roll"), ["grp"])
    mv = lambda: maintain_rollup(  # noqa: E731
        spark, t, roll, ["grp"], {"sum_v": "v"},
        min_measures={"min_v": "v"}, max_measures={"max_v": "v"},
    )
    mv()
    # remove group 2's stored maximum (k=1499) → that group recomputes
    t.delete_keys(spark, spark.createDataFrame([Row(k=1499)]))
    stats = mv()
    assert stats["groups_recomputed"] == 1
    assert stats["recompute_files_total"] is not None
    assert stats["recompute_files_read"] < stats["recompute_files_total"]
    got = {
        r["grp"]: (str(r["sum_v"]), r["min_v"], r["max_v"], r["n_rows"])
        for r in roll.read(spark).collect()
    }
    want = {
        r["grp"]: (str(r["sum_v"]), r["min_v"], r["max_v"], r["n_rows"])
        for r in _full_rollup(
            t.read(spark), ["grp"], {"sum_v": "v"}, "n_rows",
            {"min_v": "v"}, {"max_v": "v"},
        ).collect()
    }
    assert got == want and got[2][2] == 1498.0


def test_commit_changes_matches_per_version_diffs(spark, tmp_path):
    """CDC-on-write (Delta enableChangeDataFeed parity): every commit's
    persisted change events equal the per-version snapshot diff exactly
    — inserts ride as the commit's own data files (all_insert, zero
    write amplification), merges/deletes persist four-type events, and
    compacts/no-match deletes contribute nothing."""
    t = ParquetKeyedTable(str(tmp_path / "cdc"), ["k"], change_feed=True)
    t.upsert(spark, spark.createDataFrame([Row(k=i, v=float(i)) for i in range(100)]))
    t.upsert(
        spark,
        spark.createDataFrame(
            [Row(k=i, v=float(i) * 2) for i in range(0, 100, 3)]
            + [Row(k=i, v=1.0) for i in range(100, 120)]
        ),
    )
    t.delete_keys(spark, spark.createDataFrame([Row(k=i) for i in range(0, 120, 10)]))
    t.compact(spark, target_file_bytes=4096)
    t.delete_keys(spark, spark.createDataFrame([Row(k=10_000)]))  # no match
    assert all(t.has_commit_changes(v) for v in range(t.current_version() + 1))
    for v in range(t.current_version() + 1):
        got = sorted(
            map(tuple, t.commit_changes(spark, v - 1, v).drop("_commit_version").collect())
        )
        if v == 0:
            want = sorted(tuple(r) + ("insert",) for r in t.read(spark, 0).collect())
        else:
            want = sorted(
                map(tuple, t.changes(spark, v - 1, v, include_preimages=True).collect())
            )
        assert got == want, f"version {v} mismatch"
    # the merge commit's feed reads its O(batch) change files, not the
    # snapshot pair the diff would scan
    feed_files = t.commit_changes(spark, 0, 1).inputFiles()
    assert all("_changes" in f for f in feed_files)
    diff_files = t.changes(spark, 0, 1, include_preimages=True).inputFiles()
    assert len(feed_files) < len(diff_files)


def test_maintain_rollup_over_change_feed_base(spark, tmp_path):
    """Interleaved-key epochs rewrite every base file, so snapshot-diff
    feeds are O(base) per refresh; a change_feed base folds the
    persisted O(batch) events instead — and stays bit-equal to the
    recompute, MIN/MAX included (transient extrema inserted then
    removed across commits can only trigger extra recomputes)."""
    from bw_new_data_integration_spark.operators.matview import (
        _full_rollup,
        maintain_rollup,
    )

    t = ParquetKeyedTable(str(tmp_path / "cdcb"), ["k"], change_feed=True)
    t.upsert(
        spark,
        spark.createDataFrame(
            [Row(k=i, grp=i % 5, v=float(i % 97)) for i in range(0, 3000, 3)]
        ),
    )
    roll = ParquetKeyedTable(str(tmp_path / "cdcr"), ["grp"])
    mv = lambda: maintain_rollup(  # noqa: E731
        spark, t, roll, ["grp"], {"sum_v": "v"},
        min_measures={"min_v": "v"}, max_measures={"max_v": "v"},
    )
    mv()
    # epoch 1: interleaved updates + inserts; epoch 2: deletes that
    # remove several groups' extrema (v == 96 rows) — then a transient:
    # insert a huge value, refresh, delete it, refresh
    t.upsert(
        spark,
        spark.createDataFrame(
            [Row(k=i, grp=i % 5, v=float((i * 7) % 97)) for i in range(0, 3000, 9)]
            + [Row(k=i, grp=i % 5, v=float(i % 97)) for i in range(1, 3000, 3)]
        ),
    )
    t.delete_keys(spark, spark.createDataFrame([Row(k=i) for i in range(0, 3000, 21)]))
    stats = mv()
    assert stats["action"] == "incremental"
    t.upsert(spark, spark.createDataFrame([Row(k=99991, grp=2, v=1e9)]))
    mv()
    t.delete_keys(spark, spark.createDataFrame([Row(k=99991)]))
    stats = mv()
    assert stats["groups_recomputed"] >= 1  # the transient max left grp 2
    got = {
        r["grp"]: (str(r["sum_v"]), r["min_v"], r["max_v"], r["n_rows"])
        for r in roll.read(spark).collect()
    }
    want = {
        r["grp"]: (str(r["sum_v"]), r["min_v"], r["max_v"], r["n_rows"])
        for r in _full_rollup(
            t.read(spark), ["grp"], {"sum_v": "v"}, "n_rows",
            {"min_v": "v"}, {"max_v": "v"},
        ).collect()
    }
    assert got == want
    assert all(t.has_commit_changes(v) for v in range(t.current_version() + 1))


def test_rocksdb_state_provider_dedup(spark, tmp_path):
    """The RocksDB state-store opt-in (continuous/multi-batch stateful
    streams) works end-to-end on this Spark build: a doubled two-batch
    stream dedups exactly once under the provider. Guards the provider
    class name and session wiring across pyspark upgrades."""
    import shutil

    from bw_new_data_integration_spark.streaming import stream as st

    prev = spark.conf.get(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.HDFSBackedStateStoreProvider",
    )
    staging = tmp_path / "rdb_src"
    staging.mkdir()
    df = spark.createDataFrame(
        [Row(event_id=i, ts=f"2024-01-0{1 + i % 5} 10:00:00", event_type="t")
         for i in range(200)]
    ).select("event_id", F.col("ts").cast("timestamp").alias("ts"), "event_type")
    for copy in ("c1", "c2"):  # same rows twice = at-least-once source
        d = tmp_path / f"w_{copy}"
        df.coalesce(1).write.parquet(str(d))
        for f in os.listdir(d):
            if f.endswith(".parquet"):
                os.rename(str(d / f), str(staging / f"{copy}.parquet"))
    try:
        st.use_rocksdb_state(spark)
        import uuid as _uuid

        from pyspark.sql import types as T

        schema = T.StructType(
            [
                T.StructField("event_id", T.LongType()),
                T.StructField("ts", T.TimestampType()),
                T.StructField("event_type", T.StringType()),
            ]
        )
        events = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(str(staging))
        )
        deduped = st.dedup_stream(events, keys=("event_id",), watermark="1 day")
        name = "rdbt_" + _uuid.uuid4().hex[:8]
        q = (
            deduped.writeStream.format("memory")
            .queryName(name)
            .outputMode("append")
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        assert spark.table(name).count() == 200
    finally:
        spark.conf.set("spark.sql.streaming.stateStore.providerClass", prev)


def test_pipeline_matview_equals_run_pipeline(spark, tmp_path):
    """A YAML pipeline served from its maintained rollup is bit-equal
    to the batch pipeline (build_plan) over the same final state —
    grain, measures, mapping, business key and gates included."""
    import datetime as dt

    from bw_new_data_integration_spark.plans import pipeline as plans
    from bw_new_data_integration_spark.plans.matview_pipeline import (
        maintain_pipeline_rollup,
        serve_pipeline_from_matview,
        staging_frame,
    )
    from bw_new_data_integration_spark.queries._shared import _PIPELINES_YAML

    spec = plans.load_pipelines(_PIPELINES_YAML)["offers"]
    rows = [
        Row(
            k=i,
            l_shipdate=dt.date(2024, 1, 1 + i % 9),
            l_suppkey=i % 7,
            l_partkey=i % 11,
            l_extendedprice=float(100 + i),
            l_discount=round((i % 5) * 0.02, 2),
        )
        for i in range(400)
    ]
    src = spark.createDataFrame(rows)
    base = ParquetKeyedTable(str(tmp_path / "ymv_base"), ["k"], change_feed=True)
    roll = ParquetKeyedTable(
        str(tmp_path / "ymv_roll"), ["calendar_date", "store_number", "offer_code"]
    )
    base.upsert(spark, staging_frame(src.where(F.col("k") % 3 != 1), spec))
    maintain_pipeline_rollup(spark, spec, base, roll)
    base.upsert(
        spark,
        staging_frame(
            src.where(F.col("k") % 3 == 0)
            .withColumn("l_extendedprice", F.col("l_extendedprice") * 3)
            .unionByName(src.where(F.col("k") % 3 == 1)),
            spec,
        ),
    )
    base.delete_keys(spark, src.where(F.col("k") % 8 == 2).select("k"))
    stats = maintain_pipeline_rollup(spark, spec, base, roll)
    assert stats["action"] == "incremental"

    served = sorted(map(tuple, serve_pipeline_from_matview(spark, spec, roll).collect()))
    # the batch pipeline over the SAME final state (base minus dims =
    # the raw source equivalent)
    final_src = base.read(spark)
    batch = sorted(
        map(
            tuple,
            plans.finish_plan(spec.aggregate.apply(final_src), spec).collect(),
        )
    )
    assert served == batch and len(served) > 0


def test_daily_sales_full_matview_equals_run_pipeline(spark, tmp_path):
    """The flagship 49-measure daily_sales_full pipeline (31 sums,
    count(*) + expression counts, a maintained AVG pair, five
    maintained ratio pairs — reference pipelines.yaml:9-77 +
    mdx_queries.py:228-232 calculated members) served from its
    maintained rollup is bit-equal to the batch pipeline over the same
    final state, through an interleaved upsert+insert+delete lifecycle
    with ONE spanning refresh (VERDICT r10 task 4)."""
    import datetime as dt

    from bw_new_data_integration_spark.plans import pipeline as plans
    from bw_new_data_integration_spark.plans.matview_pipeline import (
        maintain_pipeline_rollup,
        serve_pipeline_from_matview,
        staging_frame,
    )
    from bw_new_data_integration_spark.queries._shared import _PIPELINES_YAML

    spec = plans.load_pipelines(_PIPELINES_YAML)["daily_sales_full"]
    rows = [
        Row(
            k=i,
            l_orderkey=i * 3,
            l_linenumber=i % 7,
            l_partkey=i % 13,
            l_suppkey=i % 6,
            l_shipdate=dt.date(2024, 1, 1 + i % 11),
            l_quantity=float(1 + i % 40),
            l_extendedprice=float(100 + i),
            l_discount=round((i % 5) * 0.02, 2),
            l_tax=round((i % 3) * 0.01, 2),
        )
        for i in range(500)
    ]
    src = spark.createDataFrame(rows)
    base = ParquetKeyedTable(str(tmp_path / "dsf_base"), ["k"], change_feed=True)
    roll = ParquetKeyedTable(
        str(tmp_path / "dsf_roll"), ["store_number", "calendar_date"]
    )
    base.upsert(spark, staging_frame(src.where(F.col("k") % 3 != 1), spec))
    maintain_pipeline_rollup(spark, spec, base, roll)
    base.upsert(
        spark,
        staging_frame(
            src.where(F.col("k") % 3 == 0)
            .withColumn("l_extendedprice", F.col("l_extendedprice") * 3)
            .unionByName(src.where(F.col("k") % 3 == 1)),
            spec,
        ),
    )
    base.delete_keys(spark, src.where(F.col("k") % 8 == 2).select("k"))
    stats = maintain_pipeline_rollup(spark, spec, base, roll)
    assert stats["action"] == "incremental"
    served_df = serve_pipeline_from_matview(spark, spec, roll)
    assert len(served_df.columns) == 52  # 2 dims + 49 measures + key
    cols = sorted(served_df.columns)
    served = sorted(tuple(str(r[c]) for c in cols) for r in served_df.collect())
    final_src = base.read(spark)
    batch_df = plans.finish_plan(spec.aggregate.apply(final_src), spec)
    batch = sorted(tuple(str(r[c]) for c in cols) for r in batch_df.collect())
    assert served == batch and len(served) > 0


def test_translate_measures_covers_all_agg_kinds():
    from bw_new_data_integration_spark.plans.matview_pipeline import (
        _translate_measures,
    )
    from bw_new_data_integration_spark.plans.pipeline import AggSpec, PipelineSpec

    spec = PipelineSpec(
        name="x",
        source_table="t",
        mapping=None,
        aggregate=AggSpec(
            dims={"g": "g"},
            measures={
                "total": {"expr": "v", "agg": "sum"},
                "n": {"expr": "*", "agg": "count"},
                "n_v": {"expr": "v", "agg": "count"},
                "lo": {"expr": "v", "agg": "min"},
                "hi": {"expr": "v", "agg": "max"},
                "mean": {"expr": "v", "agg": "avg"},
                "share": {"agg": "ratio", "num": "a", "den": "b"},
            },
        ),
    )
    sums, mins, maxs, avgs, ratios, count_col, int_sums = _translate_measures(spec)
    assert sums["total"] == "v" and count_col == "n"
    assert "n_v" in sums and "NULL" in sums["n_v"] and "n_v" in int_sums
    assert mins == {"lo": "v"} and maxs == {"hi": "v"} and avgs == {"mean": "v"}
    assert ratios == {"share": ("a", "b")}


def test_commit_changes_untracked_table_full_fallback(spark, tmp_path):
    """commit_changes on a table WITHOUT change_feed: every version
    falls back to the per-version snapshot diff, and the untagged first
    commit contributes its whole snapshot as inserts (not silence)."""
    t = ParquetKeyedTable(str(tmp_path / "legacy"), ["k"])
    t.upsert(spark, spark.createDataFrame([Row(k=i, v=i) for i in range(20)]))
    t.upsert(spark, spark.createDataFrame([Row(k=5, v=99), Row(k=25, v=25)]))
    cc = t.commit_changes(spark, -1)
    by = {
        (r["_commit_version"], r["_change_type"]): 1
        for r in cc.select("_commit_version", "_change_type").distinct().collect()
    }
    n0 = cc.where("_commit_version = 0").count()
    assert n0 == 20 and (0, "insert") in by
    assert (1, "update_preimage") in by and (1, "insert") in by


def test_maintain_rollup_mixed_tracked_untracked_window(spark, tmp_path):
    """A refresh window mixing CDC-tracked commits with an untracked
    one (overwrite carries no change files) falls back to the exact
    net snapshot diff for that span — bit-equal to recompute either
    way."""
    from bw_new_data_integration_spark.operators.matview import (
        _full_rollup,
        maintain_rollup,
    )

    t = ParquetKeyedTable(str(tmp_path / "mix"), ["k"], change_feed=True)
    roll = ParquetKeyedTable(str(tmp_path / "mixr"), ["grp"])
    mv = lambda: maintain_rollup(spark, t, roll, ["grp"], {"sum_v": "v"})  # noqa: E731
    t.upsert(spark, spark.createDataFrame([Row(k=i, grp=i % 3, v=float(i)) for i in range(90)]))
    mv()
    t.upsert(spark, spark.createDataFrame([Row(k=i, grp=i % 3, v=-1.0) for i in range(0, 90, 5)]))
    # untracked commit in the middle of the window: full replace
    t.overwrite(
        spark.createDataFrame([Row(k=i, grp=i % 4, v=float(i) * 2) for i in range(40)])
    )
    t.upsert(spark, spark.createDataFrame([Row(k=99, grp=9, v=7.0)]))
    assert not all(t.has_commit_changes(v) for v in range(t.current_version() + 1))
    stats = mv()
    assert stats["action"] == "incremental"
    got = {r["grp"]: (str(r["sum_v"]), r["n_rows"]) for r in roll.read(spark).collect()}
    want = {
        r["grp"]: (str(r["sum_v"]), r["n_rows"])
        for r in _full_rollup(t.read(spark), ["grp"], {"sum_v": "v"}, "n_rows").collect()
    }
    assert got == want


def _capture_transport(path):
    """A sink transport that records every request's records, each
    with its verb under ``_method``, to a JSONL file (executor-side;
    local mode shares the FS) and succeeds."""
    import json as _json

    def factory():
        def transport(batch, method="PATCH"):
            with open(path, "a") as f:
                for rec in batch:
                    f.write(_json.dumps({**rec, "_method": method}, default=str) + "\n")
            return [204] * len(batch)

        return transport

    return factory


def test_sync_to_rest_pushes_only_changes(spark, tmp_path):
    """Change-driven REST sync (vs the reference's full nightly
    re-push): bootstrap pushes the snapshot; afterwards only changed
    rows are upserted and only vanished keys deleted; an unchanged
    table is a no-op; at-least-once replay after a lost watermark
    re-pushes the same delta."""
    import json as _json

    from bw_new_data_integration_spark.sources import sync

    t = ParquetKeyedTable(str(tmp_path / "s"), ["bk"], change_feed=True)
    rows = [Row(bk=f"k{i}", v=float(i)) for i in range(50)]
    t.upsert(spark, spark.createDataFrame(rows))
    log1 = str(tmp_path / "push1.jsonl")
    st = sync.sync_to_rest(spark, t, _capture_transport(log1), "bk", app="a")
    assert st["action"] == "bootstrap" and st["upserted"] == 50
    # churn: update 5, insert 2, delete 3
    t.upsert(
        spark,
        spark.createDataFrame(
            [Row(bk=f"k{i}", v=-1.0) for i in range(5)]
            + [Row(bk="new1", v=1.0), Row(bk="new2", v=2.0)]
        ),
    )
    t.delete_keys(spark, spark.createDataFrame([Row(bk=f"k{i}") for i in (10, 11, 12)]))
    log2 = str(tmp_path / "push2.jsonl")
    st = sync.sync_to_rest(spark, t, _capture_transport(log2), "bk", app="a")
    assert st["action"] == "incremental"
    assert st["upserted"] == 7 and st["deleted"] == 3 and st["errors"] == 0
    pushed = [_json.loads(l) for l in open(log2)]
    up_keys = {r["bk"] for r in pushed if r["_method"] == "PATCH"}
    del_keys = {r["bk"] for r in pushed if r["_method"] == "DELETE"}
    assert up_keys == {f"k{i}" for i in range(5)} | {"new1", "new2"}
    assert del_keys == {"k10", "k11", "k12"}
    # unchanged table: no-op, no pushes
    st = sync.sync_to_rest(spark, t, _capture_transport(str(tmp_path / "p3")), "bk", app="a")
    assert st["action"] == "noop"
    # lost watermark (crash before state write): replay re-pushes the
    # SAME idempotent delta, never corrupts
    os.remove(os.path.join(t.path, "_sync_state_a.json"))
    st = sync.sync_to_rest(spark, t, _capture_transport(str(tmp_path / "p4")), "bk", app="a")
    assert st["action"] == "bootstrap" and st["upserted"] == 49  # 50 - 3 + 2


def test_sync_pipeline_matview_end_to_end(spark, tmp_path):
    """The full reference flow, each leg O(churn): source increment →
    CDC landing table → maintained pipeline rollup → change-driven REST
    push of the MAPPED records (business key included) — only the
    groups the increment touched reach the API."""
    import datetime as dt
    import json as _json

    from bw_new_data_integration_spark.plans import pipeline as plans
    from bw_new_data_integration_spark.plans.matview_pipeline import (
        maintain_pipeline_rollup,
        serve_pipeline_from_matview,
        staging_frame,
    )
    from bw_new_data_integration_spark.queries._shared import _PIPELINES_YAML
    from bw_new_data_integration_spark.sources import sync

    spec = plans.load_pipelines(_PIPELINES_YAML)["offers"]
    src = spark.createDataFrame(
        [
            Row(
                k=i,
                l_shipdate=dt.date(2024, 2, 1 + i % 5),
                l_suppkey=i % 4,
                l_partkey=i % 3,
                l_extendedprice=float(100 + i),
                l_discount=0.05,
            )
            for i in range(300)
        ]
    )
    base = ParquetKeyedTable(str(tmp_path / "lz"), ["k"], change_feed=True)
    roll = ParquetKeyedTable(
        str(tmp_path / "rl"),
        ["calendar_date", "store_number", "offer_code"],
        change_feed=True,
    )

    def finish(df):
        from bw_new_data_integration_spark.operators.matview import finish_rollup

        agged = finish_rollup(df).select(
            "calendar_date", "store_number", "offer_code",
            F.col("discount_amount_usd").cast("double").alias("discount_amount_usd"),
            F.col("net_sales_usd").cast("double").alias("net_sales_usd"),
            F.col("order_count").cast("bigint").alias("order_count"),
        )
        return plans.finish_plan(agged, spec)

    base.upsert(spark, staging_frame(src, spec))
    maintain_pipeline_rollup(spark, spec, base, roll)
    log1 = str(tmp_path / "b.jsonl")
    st = sync.sync_to_rest(
        spark, roll, _capture_transport(log1), "business_key", app="cube", finish=finish
    )
    n_groups = roll.read(spark).count()
    assert st["action"] == "bootstrap" and st["upserted"] == n_groups
    # one source row changes → exactly one grain group reaches the API
    base.upsert(
        spark,
        staging_frame(src.where(F.col("k") == 7).withColumn("l_extendedprice", F.lit(999.0)), spec),
    )
    maintain_pipeline_rollup(spark, spec, base, roll)
    log2 = str(tmp_path / "i.jsonl")
    st = sync.sync_to_rest(
        spark, roll, _capture_transport(log2), "business_key", app="cube", finish=finish
    )
    pushed = [_json.loads(l) for l in open(log2)]
    assert st["action"] == "incremental" and st["upserted"] == 1 and st["deleted"] == 0
    assert len(pushed) == 1 and "business_key" in pushed[0]
    # the pushed record equals the served pipeline's row for that group
    served = {
        r["business_key"]: r
        for r in serve_pipeline_from_matview(spark, spec, roll).collect()
    }
    got = pushed[0]
    want = served[got["business_key"]]
    assert abs(got["net_sales_usd"] - want["net_sales_usd"]) < 1e-9


def test_sync_to_rest_rebootstraps_after_vacuum(spark, tmp_path):
    """Retention racing the sync: when the last-synced snapshot has
    been vacuumed, the sync re-pushes the full current snapshot
    (idempotent sink) instead of failing on a missing change feed."""
    from bw_new_data_integration_spark.sources import sync

    t = ParquetKeyedTable(str(tmp_path / "vs"), ["bk"], change_feed=True)
    t.upsert(spark, spark.createDataFrame([Row(bk=f"k{i}", v=float(i)) for i in range(10)]))
    sync.sync_to_rest(spark, t, _capture_transport(str(tmp_path / "a.jsonl")), "bk", app="x")
    t.upsert(spark, spark.createDataFrame([Row(bk="k3", v=-1.0)]))
    t.upsert(spark, spark.createDataFrame([Row(bk="k4", v=-2.0)]))
    t.vacuum(keep_last=1)  # the synced snapshot is gone
    st = sync.sync_to_rest(
        spark, t, _capture_transport(str(tmp_path / "b.jsonl")), "bk", app="x"
    )
    assert st["action"] == "rebootstrap" and st["upserted"] == 10
    # without a sink-key listing, orphaned deletes can't be seen —
    # the stats must say so (ADVICE r10)
    assert st["deletes_unreconciled"] is True


def test_sync_rebootstrap_reconciles_deletes_with_sink_keys(spark, tmp_path):
    """A delete inside the vacuumed span must not orphan the sink key:
    with ``list_sink_keys`` the re-bootstrap diffs the sink's key set
    against the snapshot and pushes tombstones (ADVICE r10)."""
    import json as _json

    from bw_new_data_integration_spark.sources import sync

    t = ParquetKeyedTable(str(tmp_path / "vr"), ["bk"], change_feed=True)
    t.upsert(spark, spark.createDataFrame([Row(bk=f"k{i}", v=float(i)) for i in range(8)]))
    sync.sync_to_rest(spark, t, _capture_transport(str(tmp_path / "a.jsonl")), "bk", app="x")
    # the delete happens INSIDE the span retention will erase
    t.delete_keys(spark, spark.createDataFrame([Row(bk="k2"), Row(bk="k5")]))
    t.upsert(spark, spark.createDataFrame([Row(bk="k0", v=-1.0)]))
    t.vacuum(keep_last=1)
    log = str(tmp_path / "b.jsonl")
    sink_keys = [f"k{i}" for i in range(8)]  # what the sink holds now
    st = sync.sync_to_rest(
        spark, t, _capture_transport(log), "bk", app="x",
        list_sink_keys=lambda: sink_keys,
    )
    assert st["action"] == "rebootstrap"
    assert st["upserted"] == 6 and st["deleted"] == 2
    assert "deletes_unreconciled" not in st
    pushed = [_json.loads(l) for l in open(log)]
    del_keys = {r["bk"] for r in pushed if r["_method"] == "DELETE"}
    assert del_keys == {"k2", "k5"}


def test_sync_watermark_holds_on_failed_batches(spark, tmp_path):
    """At-least-once (ADVICE r10): exhausted-retry batches surface as
    ``errors`` from write_batched — the watermark must NOT advance, so
    the next (healthy) sync replays the same span instead of silently
    skipping the failed rows forever."""
    import json as _json

    from bw_new_data_integration_spark.sources import sync

    t = ParquetKeyedTable(str(tmp_path / "wf"), ["bk"], change_feed=True)
    t.upsert(spark, spark.createDataFrame([Row(bk=f"k{i}", v=float(i)) for i in range(6)]))
    sync.sync_to_rest(spark, t, _capture_transport(str(tmp_path / "a.jsonl")), "bk", app="x")
    t.upsert(spark, spark.createDataFrame([Row(bk="k1", v=-1.0), Row(bk="k2", v=-2.0)]))

    def failing_factory():
        def transport(batch):
            return [400] * len(batch)  # non-retryable: counts straight to errors

        return transport

    st = sync.sync_to_rest(spark, t, failing_factory, "bk", app="x")
    assert st["errors"] > 0 and st["watermark_advanced"] is False
    # the sink heals: the SAME span replays in full
    log = str(tmp_path / "retry.jsonl")
    st = sync.sync_to_rest(spark, t, _capture_transport(log), "bk", app="x")
    assert st["action"] == "incremental" and st["watermark_advanced"] is True
    pushed = [_json.loads(l) for l in open(log)]
    assert {r["bk"] for r in pushed} == {"k1", "k2"}


# -- merge-on-read (key-tombstone deletion vectors, VERDICT r10 #2) ----------


def _mor_cow_pair(spark, tmp_path, name, change_feed=True):
    mor = ParquetKeyedTable(
        str(tmp_path / f"{name}_mor"), ["k"], write_mode="mor", change_feed=change_feed
    )
    cow = ParquetKeyedTable(
        str(tmp_path / f"{name}_cow"), ["k"], change_feed=change_feed
    )
    return mor, cow


def test_mor_lifecycle_matches_cow_everywhere(spark, tmp_path):
    """The MoR table is indistinguishable from its COW twin after an
    interleaved-churn lifecycle: every version's read, the four-type
    commit_changes feed, and the snapshot diff all agree — only the
    write amplification differs."""
    mor, cow = _mor_cow_pair(spark, tmp_path, "lc")
    waves = [
        ("upsert", [Row(k=i, v=float(i)) for i in range(80)]),
        # interleaved update: every file of the range layout is touched
        ("upsert", [Row(k=i, v=-1.0) for i in range(0, 80, 4)] + [Row(k=100, v=9.0)]),
        ("delete", [Row(k=i) for i in (3, 100, 7)]),
        ("upsert", [Row(k=3, v=33.0), Row(k=200, v=2.0)]),  # re-insert after delete
        ("delete", [Row(k=999)]),  # provably-no-match delete
    ]
    for kind, rows in waves:
        df = spark.createDataFrame(rows)
        for t in (mor, cow):
            (t.upsert(spark, df) if kind == "upsert" else t.delete_keys(spark, df))
    assert mor.current_version() == cow.current_version()
    for v in range(mor.current_version() + 1):
        a = {(r["k"], r["v"]) for r in mor.read(spark, v).collect()}
        b = {(r["k"], r["v"]) for r in cow.read(spark, v).collect()}
        assert a == b, f"version {v}"
    key = lambda r: (r["k"], r["_change_type"], r["v"], r["_commit_version"])  # noqa: E731
    ca = sorted(map(key, mor.commit_changes(spark, -1).collect()))
    cb = sorted(map(key, cow.commit_changes(spark, -1).collect()))
    assert ca == cb
    dkey = lambda r: (r["k"], r["_change_type"], r["v"])  # noqa: E731
    da = sorted(map(dkey, mor.changes(spark, 0, include_preimages=True).collect()))
    db = sorted(map(dkey, cow.changes(spark, 0, include_preimages=True).collect()))
    assert da == db


def test_mor_commit_rewrites_nothing(spark, tmp_path):
    """The write-amplification pin: an interleaved batch (one key per
    data file) on a MoR table links EVERY previous data file forward —
    zero rewrites — while the COW twin rewrites the whole table. This
    is the 100 TB property the mode exists for."""
    mor, cow = _mor_cow_pair(spark, tmp_path, "amp", change_feed=False)
    base = spark.createDataFrame([Row(k=i, v=float(i)) for i in range(2000)])
    for t in (mor, cow):
        t.upsert(spark, base)
        t.compact(spark, target_file_bytes=2048)  # many files
    n_files = mor.manifest()["n_files"]
    assert n_files >= 8
    # one updated key inside every file's range
    step = 2000 // n_files
    batch = spark.createDataFrame([Row(k=i, v=-1.0) for i in range(0, 2000, max(1, step))])
    for t in (mor, cow):
        t.upsert(spark, batch)
    m_mor, m_cow = mor.manifest(), cow.manifest()
    assert m_mor["n_linked"] == n_files  # every data file carried forward
    assert m_cow["n_linked"] < m_cow["n_files"]  # cow rewrote data files
    assert m_mor["operation"] == "mor_upsert"
    assert len(m_mor["tombstones"]) == 1
    # and the reads still agree
    a = {(r["k"], r["v"]) for r in mor.read(spark).collect()}
    b = {(r["k"], r["v"]) for r in cow.read(spark).collect()}
    assert a == b


def test_mor_read_where_prunes_both_sides(spark, tmp_path):
    """Data files prune on footer stats exactly as COW; tombstone files
    prune on KEY predicates (a tombstone only kills rows carrying its
    key). The answer equals the unpruned filter either way."""
    t = ParquetKeyedTable(str(tmp_path / "rw"), ["k"], write_mode="mor")
    t.upsert(spark, spark.createDataFrame([Row(k=i, v=float(i)) for i in range(2000)]))
    t.compact(spark, target_file_bytes=8192)
    t.upsert(spark, spark.createDataFrame([Row(k=i, v=-1.0) for i in range(0, 100)]))
    t.delete_keys(spark, spark.createDataFrame([Row(k=i) for i in range(1900, 1950)]))
    df, rep = t.read_where(spark, [("k", "between", (0, 50))], with_report=True)
    assert rep["files_skipped"] > 0
    assert rep["tombstone_files_skipped"] >= 1  # the 1900-1950 delete set
    got = {(r["k"], r["v"]) for r in df.collect()}
    want = {
        (r["k"], r["v"])
        for r in t.read(spark).where("k between 0 and 50").collect()
    }
    assert got == want
    assert all(v == -1.0 for _, v in got)  # tombstoned originals are gone


def test_mor_compact_folds_and_reenables_export(spark, tmp_path):
    """compact() folds tombstones into a clean COW layout; the Delta
    log export refuses while live tombstones exist (an external reader
    has no deletion vectors) and works after fold + vacuum."""
    import pytest as _pytest

    t = ParquetKeyedTable(str(tmp_path / "cf"), ["k"], write_mode="mor")
    t.upsert(spark, spark.createDataFrame([Row(k=i, v=float(i)) for i in range(50)]))
    t.upsert(spark, spark.createDataFrame([Row(k=1, v=-1.0)]))
    assert len(t.manifest()["tombstones"]) == 1
    with _pytest.raises(ValueError, match="tombstones"):
        t.export_delta_log(spark)
    want = {(r["k"], r["v"]) for r in t.read(spark).collect()}
    t.compact(spark)
    assert t.manifest()["tombstones"] == []
    assert {(r["k"], r["v"]) for r in t.read(spark).collect()} == want
    t.vacuum(keep_last=1)  # drop the tombstoned history
    t.export_delta_log(spark)  # no raise


def test_mor_maybe_compact_triggers_on_tombstone_debt(spark, tmp_path):
    """Auto-compaction fires once tombstone rows exceed the configured
    fraction of data rows — the policy hook that bounds the read tax."""
    t = ParquetKeyedTable(str(tmp_path / "mc"), ["k"], write_mode="mor")
    t.upsert(spark, spark.createDataFrame([Row(k=i, v=float(i)) for i in range(100)]))
    # small_file_bytes=0 isolates the tombstone trigger from the
    # small-files policy (a 100-row fixture is all small files)
    assert t.maybe_compact(spark, max_files=10_000, small_file_bytes=0) is None
    # churn ~60% of the keys
    t.upsert(spark, spark.createDataFrame([Row(k=i, v=-1.0) for i in range(0, 60)]))
    assert t.maybe_compact(spark, max_files=10_000, small_file_bytes=0) is not None
    assert t.manifest()["tombstones"] == []
    assert t.read(spark).count() == 100


def test_mor_persisted_mode_survives_reopen(spark, tmp_path):
    """A table written mor reopens as mor without the constructor arg
    (same adopt-the-disk contract as the cluster layout)."""
    t = ParquetKeyedTable(str(tmp_path / "pm"), ["k"], write_mode="mor")
    t.upsert(spark, spark.createDataFrame([Row(k=1, v=1.0)]))
    t.upsert(spark, spark.createDataFrame([Row(k=1, v=2.0)]))
    assert t.manifest()["operation"] == "mor_upsert"
    t2 = ParquetKeyedTable(str(tmp_path / "pm"), ["k"])
    assert t2.write_mode == "mor"
    t2.upsert(spark, spark.createDataFrame([Row(k=2, v=3.0)]))
    assert t2.manifest()["operation"] == "mor_upsert"
    assert {(r["k"], r["v"]) for r in t2.read(spark).collect()} == {(1, 2.0), (2, 3.0)}


def test_mor_matview_maintenance_over_mor_base(spark, tmp_path):
    """The incremental rollup consumes a MoR base's CDC feed exactly as
    a COW base's — refresh result equals full recompute after
    interleaved churn + deletes."""
    from bw_new_data_integration_spark.operators.matview import (
        _full_rollup,
        maintain_rollup,
    )

    t = ParquetKeyedTable(str(tmp_path / "mvb"), ["k"], write_mode="mor", change_feed=True)
    roll = ParquetKeyedTable(str(tmp_path / "mvr"), ["grp"])
    mv = lambda: maintain_rollup(spark, t, roll, ["grp"], {"sum_v": "v"})  # noqa: E731
    t.upsert(spark, spark.createDataFrame([Row(k=i, grp=i % 5, v=float(i)) for i in range(200)]))
    mv()
    t.upsert(spark, spark.createDataFrame([Row(k=i, grp=i % 5, v=-2.0) for i in range(0, 200, 3)]))
    t.delete_keys(spark, spark.createDataFrame([Row(k=i) for i in range(10, 30)]))
    stats = mv()
    assert stats["action"] == "incremental"
    got = {r["grp"]: (str(r["sum_v"]), r["n_rows"]) for r in roll.read(spark).collect()}
    want = {
        r["grp"]: (str(r["sum_v"]), r["n_rows"])
        for r in _full_rollup(t.read(spark), ["grp"], {"sum_v": "v"}, "n_rows").collect()
    }
    assert got == want


def test_mor_random_lifecycle_property(spark, tmp_path):
    """Property: any interleaving of upserts/deletes/compacts leaves
    the MoR table read- and CDF-equal to a COW twin replaying the same
    waves (the precedence-join visibility rule has no sequence-
    dependent edge)."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    ops = st.lists(
        st.one_of(
            st.tuples(
                st.just("upsert"),
                st.lists(st.integers(0, 25), min_size=1, max_size=6, unique=True),
                st.integers(-2, 2),
            ),
            st.tuples(
                st.just("delete"),
                st.lists(st.integers(0, 25), min_size=1, max_size=6, unique=True),
                st.just(0),
            ),
            st.tuples(st.just("compact"), st.just([]), st.just(0)),
        ),
        min_size=1,
        max_size=4,
    )
    counter = iter(range(10_000))

    @settings(max_examples=4, deadline=None)
    @given(ops)
    def run(seq):
        i = next(counter)
        mor = ParquetKeyedTable(
            str(tmp_path / f"p{i}_m"), ["k"], write_mode="mor", change_feed=True
        )
        cow = ParquetKeyedTable(str(tmp_path / f"p{i}_c"), ["k"], change_feed=True)
        init = spark.createDataFrame([Row(k=j, v=float(j)) for j in range(15)])
        for t in (mor, cow):
            t.upsert(spark, init)
        for kind, keys, mult in seq:
            if kind == "upsert":
                df = spark.createDataFrame([Row(k=j, v=float(j * mult)) for j in keys])
                mor.upsert(spark, df)
                cow.upsert(spark, df)
            elif kind == "delete":
                df = spark.createDataFrame([Row(k=j) for j in keys])
                mor.delete_keys(spark, df)
                cow.delete_keys(spark, df)
            else:
                mor.compact(spark, target_file_bytes=2048)
                cow.compact(spark, target_file_bytes=2048)
        a = sorted((r["k"], r["v"]) for r in mor.read(spark).collect())
        b = sorted((r["k"], r["v"]) for r in cow.read(spark).collect())
        assert a == b, seq
        key = lambda r: (r["k"], r["_change_type"], r["v"], r["_commit_version"])  # noqa: E731
        ca = sorted(map(key, mor.commit_changes(spark, 0).collect()))
        cb = sorted(map(key, cow.commit_changes(spark, 0).collect()))
        assert ca == cb, seq

    run()


def test_streaming_dedup_drip_runs_on_rocksdb(spark, tmp_path):
    """The drip-shape gate pins its provider: it must run on RocksDB
    (the in-gate assertion fires otherwise) and must RESTORE the
    session's provider afterwards, so sibling gates keep the default
    store their shapes are optimal on (VERDICT r10 task 7)."""
    from bw_new_data_integration_spark.queries import registry

    prev = spark.conf.get("spark.sql.streaming.stateStore.providerClass", "unset")
    out = registry()["streaming_dedup_drip"](spark, "/root/testdata/sf0.001")
    assert out.count() > 0
    after = spark.conf.get("spark.sql.streaming.stateStore.providerClass", "unset")
    assert after == prev


def test_mor_strict_upsert_failure_leaves_no_partial_version(spark, tmp_path):
    """A strict duplicate-key batch on a MoR table raises the contract
    error and leaves neither a new version nor stray tombstones."""
    import pytest as _pytest

    t = ParquetKeyedTable(str(tmp_path / "ms"), ["k"], write_mode="mor")
    t.upsert(spark, spark.createDataFrame([Row(k=1, v=1.0)]))
    v = t.current_version()
    dup = spark.createDataFrame([Row(k=2, v=1.0), Row(k=2, v=2.0)])
    with _pytest.raises(ValueError, match="strict upsert"):
        t.upsert(spark, dup, strict=True)
    assert t.current_version() == v
    assert not os.path.isdir(t._snapshot_dir(v + 1))
    assert {(r["k"], r["v"]) for r in t.read(spark).collect()} == {(1, 1.0)}
    # order_by last-write-wins arbitration works on the MoR path too
    t.upsert(spark, dup.withColumn("ts", F.col("v")), order_by=["ts"])
    rows = {(r["k"], r["v"]) for r in t.read(spark).select("k", "v").collect()}
    assert rows == {(1, 1.0), (2, 2.0)}


def test_mor_premanifest_table_falls_back_to_full_merge(spark, tmp_path):
    """A table with data but NO manifest (pre-upgrade layout) must not
    take the MoR link-forward path — there is no file list to carry the
    history by — and falls back to the full merge, losing nothing."""
    import shutil

    t = ParquetKeyedTable(str(tmp_path / "pmf"), ["k"], write_mode="mor")
    t.upsert(spark, spark.createDataFrame([Row(k=i, v=float(i)) for i in range(20)]))
    os.remove(os.path.join(t._snapshot_dir(0), "_manifest.json"))
    t.upsert(spark, spark.createDataFrame([Row(k=1, v=-1.0), Row(k=99, v=9.0)]))
    rows = {(r["k"], r["v"]) for r in t.read(spark).collect()}
    assert len(rows) == 21 and (1, -1.0) in rows and (99, 9.0) in rows
    t.delete_keys(spark, spark.createDataFrame([Row(k=2)]))
    assert t.read(spark).count() == 20
    shutil.rmtree(str(tmp_path / "pmf"), ignore_errors=True)


def test_mor_minor_tombstone_compaction(spark, tmp_path):
    """compact_tombstones folds N tombstone sidecars into one per-key-
    newest set WITHOUT rewriting any data file; visibility (including
    re-insert-after-delete precedence) is bit-identical before and
    after, and the change feed sees a logical no-op."""
    t = ParquetKeyedTable(str(tmp_path / "mt"), ["k"], write_mode="mor", change_feed=True)
    t.upsert(spark, spark.createDataFrame([Row(k=i, v=float(i)) for i in range(40)]))
    # five churn commits -> five tombstone sets; k=3 deleted then
    # re-inserted (per-key max-tv precedence must survive the fold)
    t.upsert(spark, spark.createDataFrame([Row(k=i, v=-1.0) for i in range(0, 40, 4)]))
    t.delete_keys(spark, spark.createDataFrame([Row(k=3), Row(k=5)]))
    t.upsert(spark, spark.createDataFrame([Row(k=3, v=333.0)]))
    t.upsert(spark, spark.createDataFrame([Row(k=8, v=88.0), Row(k=100, v=1.0)]))
    m = t.manifest()
    n_sets = len({int(x["tv"]) for x in m["tombstones"]})
    assert n_sets == 4
    before = {(r["k"], r["v"]) for r in t.read(spark).collect()}
    data_files = {f["path"] for f in m["files"]}
    v = t.compact_tombstones(spark)
    m2 = t.manifest(v)
    assert m2["operation"] == "compact_tombstones"
    assert {f["path"] for f in m2["files"]} == data_files  # zero data rewrites
    assert all(f["linked"] for f in m2["files"])
    assert len({int(x["tv"]) for x in m2["tombstones"]}) == 1
    after = {(r["k"], r["v"]) for r in t.read(spark).collect()}
    assert after == before
    assert (3, 333.0) in after and not any(k == 5 for k, _ in after)
    # logical no-op for the feed
    ev = t.commit_changes(spark, v - 1, v)
    assert ev.count() == 0
    # a LATER delete still supersedes the folded set
    t.delete_keys(spark, spark.createDataFrame([Row(k=3)]))
    assert not any(r["k"] == 3 for r in t.read(spark).collect())
    # maybe_compact prefers the fold when only set-count debt exists
    t2 = ParquetKeyedTable(str(tmp_path / "mt2"), ["k"], write_mode="mor")
    t2.upsert(spark, spark.createDataFrame([Row(k=i, v=float(i)) for i in range(1000)]))
    for j in range(t2.MOR_MINOR_COMPACT_SETS + 1):
        t2.upsert(spark, spark.createDataFrame([Row(k=j, v=-float(j))]))
    nv = t2.maybe_compact(spark, max_files=10_000, small_file_bytes=0)
    assert nv is not None and t2.manifest(nv)["operation"] == "compact_tombstones"
    assert t2.read(spark).count() == 1000


def test_mor_cow_flip_with_live_tombstones_never_resurrects(spark, tmp_path):
    """ADVICE r11 #1: reopening a range-clustered MoR table as
    write_mode='cow' while tombstones are live must NOT take the
    range-scoped paths (they read touched files raw, link untouched
    files forward, and drop the tombstone list) — the first cow
    mutation is forced onto the full merge, which folds the tombstones
    and keeps every dead row dead."""
    t = ParquetKeyedTable(str(tmp_path / "flip"), ["k"], write_mode="mor")
    t.upsert(spark, spark.createDataFrame([Row(k=i, v=float(i)) for i in range(2000)]))
    t.compact(spark, target_file_bytes=4096)  # many files: scoped paths viable
    assert t.manifest()["n_files"] >= ParquetKeyedTable.MIN_SCOPED_FILES
    t.upsert(spark, spark.createDataFrame([Row(k=7, v=-7.0)]))
    t.delete_keys(spark, spark.createDataFrame([Row(k=i) for i in range(100, 150)]))
    assert t.manifest()["tombstones"]
    want = {(r["k"], r["v"]) for r in t.read(spark).collect()}

    # upsert path: a batch whose keys touch only ONE file's range (the
    # exact shape the range-scoped merge would have taken)
    t2 = ParquetKeyedTable(str(tmp_path / "flip"), ["k"], write_mode="cow")
    t2.upsert(spark, spark.createDataFrame([Row(k=1999, v=-1999.0)]))
    got = {(r["k"], r["v"]) for r in t2.read(spark).collect()}
    assert got == (want - {(1999, 1999.0)}) | {(1999, -1999.0)}
    assert (7, 7.0) not in got and not any(100 <= k < 150 for k, _ in got)
    assert t2.manifest()["tombstones"] == []  # full merge folded them

    # delete path, fresh table: flip then delete a disjoint key
    d = ParquetKeyedTable(str(tmp_path / "flipd"), ["k"], write_mode="mor")
    d.upsert(spark, spark.createDataFrame([Row(k=i, v=float(i)) for i in range(2000)]))
    d.compact(spark, target_file_bytes=4096)
    d.delete_keys(spark, spark.createDataFrame([Row(k=i) for i in range(0, 50)]))
    assert d.manifest()["tombstones"]
    want_d = {(r["k"], r["v"]) for r in d.read(spark).collect()}
    d2 = ParquetKeyedTable(str(tmp_path / "flipd"), ["k"], write_mode="cow")
    d2.delete_keys(spark, spark.createDataFrame([Row(k=1999)]))
    got_d = {(r["k"], r["v"]) for r in d2.read(spark).collect()}
    assert got_d == want_d - {(1999, 1999.0)}
    assert not any(k < 50 for k, _ in got_d)
    assert d2.manifest()["tombstones"] == []


def test_link_only_commits_retry_after_crashed_attempt(spark, tmp_path):
    """ADVICE r11 #2: a crashed link-only commit (tombstone delete /
    tombstone fold / no-touch range delete) leaves a stale, unreferenced
    ``v=N+1`` directory with hard links already in place; the retry must
    clear it instead of wedging on FileExistsError forever."""
    t = ParquetKeyedTable(str(tmp_path / "wedge"), ["k"], write_mode="mor")
    t.upsert(spark, spark.createDataFrame([Row(k=i, v=float(i)) for i in range(30)]))

    def simulate_crashed_attempt():
        old_v = t.current_version()
        stale = t._snapshot_dir(old_v + 1)
        os.makedirs(stale, exist_ok=True)
        m = t.manifest(old_v)
        t._link_files(old_v, old_v + 1, [f["path"] for f in m["files"]])
        assert t.current_version() == old_v  # pointer never flipped

    # tombstone delete retry
    simulate_crashed_attempt()
    t.delete_keys(spark, spark.createDataFrame([Row(k=1)]))
    assert t.read(spark).count() == 29
    # tombstone-fold retry (two live sets so the fold has work)
    t.delete_keys(spark, spark.createDataFrame([Row(k=2)]))
    simulate_crashed_attempt()
    v = t.compact_tombstones(spark)
    assert t.manifest(v)["operation"] == "compact_tombstones"
    assert t.read(spark).count() == 28
    # no-touch range delete retry (cow range table, provably-no-match)
    r = ParquetKeyedTable(str(tmp_path / "wedge_r"), ["k"])
    r.upsert(spark, spark.createDataFrame([Row(k=i, v=float(i)) for i in range(2000)]))
    r.compact(spark, target_file_bytes=4096)
    old_v = r.current_version()
    stale = r._snapshot_dir(old_v + 1)
    os.makedirs(stale, exist_ok=True)
    r._link_files(old_v, old_v + 1, [r.manifest(old_v)["files"][0]["path"]])
    r.delete_keys(spark, spark.createDataFrame([Row(k=999_999)]))
    assert r.manifest()["operation"] == "range_delete"
    assert r.read(spark).count() == 2000


def test_tombstone_broadcast_gate_uses_row_counts(spark, tmp_path):
    """ADVICE r11 #3: the forced broadcast of the precedence join's
    build side is sized from manifest ROW counts (decompressed
    estimate), not on-disk compressed bytes — heavily-compressed wide
    string keys must not be force-broadcast; entries without row counts
    fall back to a conservative byte threshold."""
    t = ParquetKeyedTable(str(tmp_path / "bg"), ["k"], write_mode="mor")
    churn = [{"path": "_tombstones/tv=1/p0", "tv": 1, "bytes": 1 << 20, "rows": 10_000}]
    assert t._tombstones_broadcastable(churn) is True
    # 20 MB on disk but 20M rows: old bytes gate would broadcast, the
    # rows gate estimates ~1.2 GB decompressed and refuses
    wide = [{"path": "_tombstones/tv=1/p0", "tv": 1, "bytes": 20 << 20, "rows": 20_000_000}]
    assert t._tombstones_broadcastable(wide) is False
    # pre-upgrade entry (no rows): conservative byte fallback
    legacy_small = [{"path": "_tombstones/tv=1/p0", "tv": 1, "bytes": 1 << 20}]
    legacy_big = [{"path": "_tombstones/tv=1/p0", "tv": 1, "bytes": 8 << 20}]
    assert t._tombstones_broadcastable(legacy_small) is True
    assert t._tombstones_broadcastable(legacy_big) is False
    # type-aware width: a fixed-width (long) key is ~4x cheaper than the
    # string assumption, so 1M int-keyed rows still force-broadcast
    # while the same count without type tags would not
    intk = lambda n: [{  # noqa: E731
        "path": "_tombstones/tv=1/p0", "tv": 1, "bytes": 4 << 20, "rows": n,
        "stats": {"k": {"t": "int", "min": 0, "max": n, "nulls": 0}},
    }]
    assert t._tombstones_broadcastable(intk(1_000_000)) is True
    assert t._tombstones_broadcastable(intk(2_000_000)) is False
    untagged = [{"path": "_tombstones/tv=1/p0", "tv": 1, "bytes": 4 << 20,
                 "rows": 1_000_000}]
    assert t._tombstones_broadcastable(untagged) is False  # unknown -> string-safe
    # end-to-end: a real churn-sized read still plans a broadcast join
    t.upsert(spark, spark.createDataFrame([Row(k=i, v=float(i)) for i in range(200)]))
    t.delete_keys(spark, spark.createDataFrame([Row(k=1)]))
    import contextlib as _ctx
    import io as _io

    buf = _io.StringIO()
    with _ctx.redirect_stdout(buf):
        t.read(spark).explain(mode="simple")
    assert "Broadcast" in buf.getvalue()


# -- merge-on-read × partitioned tables (VERDICT r11 gap #1) -----------------


def test_mor_partitioned_lifecycle_matches_cow(spark, tmp_path):
    """A date/fiscal-partitioned landing table under write_mode='mor'
    is indistinguishable from its partitioned COW twin across an
    interleaved lifecycle — every version's read, the commit feed, and
    the snapshot diff agree."""
    mor = ParquetKeyedTable(
        str(tmp_path / "pl_mor"), ["p", "k"], partition_by=["p"],
        write_mode="mor", change_feed=True,
    )
    cow = ParquetKeyedTable(
        str(tmp_path / "pl_cow"), ["p", "k"], partition_by=["p"], change_feed=True
    )
    waves = [
        ("upsert", [Row(p=i % 5, k=i, v=float(i)) for i in range(100)]),
        # churn in every partition + a brand-new partition
        ("upsert", [Row(p=i % 5, k=i, v=-1.0) for i in range(0, 100, 7)]
                   + [Row(p=9, k=900, v=9.0)]),
        ("delete", [Row(p=3, k=3), Row(p=9, k=900), Row(p=2, k=17)]),
        ("upsert", [Row(p=3, k=3, v=33.0), Row(p=9, k=901, v=91.0)]),
        ("delete", [Row(p=4, k=999_999)]),  # provably-no-match
    ]
    for kind, rows in waves:
        df = spark.createDataFrame(rows)
        for t in (mor, cow):
            (t.upsert(spark, df) if kind == "upsert" else t.delete_keys(spark, df))
    assert mor.current_version() == cow.current_version()
    for v in range(mor.current_version() + 1):
        a = {(r["p"], r["k"], r["v"]) for r in mor.read(spark, v).collect()}
        b = {(r["p"], r["k"], r["v"]) for r in cow.read(spark, v).collect()}
        assert a == b, f"version {v}"
    key = lambda r: (r["p"], r["k"], r["_change_type"], r["v"], r["_commit_version"])  # noqa: E731
    assert sorted(map(key, mor.commit_changes(spark, -1).collect())) == sorted(
        map(key, cow.commit_changes(spark, -1).collect())
    )
    dkey = lambda r: (r["p"], r["k"], r["_change_type"], r["v"])  # noqa: E731
    assert sorted(
        map(dkey, mor.changes(spark, 0, include_preimages=True).collect())
    ) == sorted(map(dkey, cow.changes(spark, 0, include_preimages=True).collect()))
    # compact folds the partitioned tombstones into a clean layout
    want = {(r["p"], r["k"], r["v"]) for r in mor.read(spark).collect()}
    mor.compact(spark)
    assert mor.manifest()["tombstones"] == []
    assert {(r["p"], r["k"], r["v"]) for r in mor.read(spark).collect()} == want


def test_mor_partitioned_commit_links_everything(spark, tmp_path):
    """The O(batch) write property on a partitioned table: a churn
    batch touching EVERY partition links every previous data file
    forward (zero rewrites), while the partitioned COW twin rewrites
    each touched partition."""
    mor = ParquetKeyedTable(
        str(tmp_path / "amp_mor"), ["p", "k"], partition_by=["p"], write_mode="mor"
    )
    cow = ParquetKeyedTable(
        str(tmp_path / "amp_cow"), ["p", "k"], partition_by=["p"]
    )
    base = spark.createDataFrame(
        [Row(p=i % 8, k=i, v=float(i)) for i in range(4000)]
    )
    churn = spark.createDataFrame([Row(p=i, k=i, v=-1.0) for i in range(8)])
    for t in (mor, cow):
        t.upsert(spark, base)
        t.upsert(spark, churn)
    m_mor, m_cow = mor.manifest(), cow.manifest()
    prev_files = mor.manifest(0)["n_files"]
    assert m_mor["operation"] == "mor_upsert"
    assert m_mor["n_linked"] == prev_files  # every data file carried forward
    assert m_cow["n_linked"] < m_cow["n_files"]  # cow rewrote the touched partitions
    a = {(r["p"], r["k"], r["v"]) for r in mor.read(spark).collect()}
    b = {(r["p"], r["k"], r["v"]) for r in cow.read(spark).collect()}
    assert a == b
    # tombstone-only delete also links everything
    dead = spark.createDataFrame([Row(p=0, k=0), Row(p=1, k=1)])
    for t in (mor, cow):
        t.delete_keys(spark, dead)
    m = mor.manifest()
    assert m["operation"] == "mor_delete" and m["n_linked"] == m["n_files"]
    assert {(r["p"], r["k"], r["v"]) for r in mor.read(spark).collect()} == {
        (r["p"], r["k"], r["v"]) for r in cow.read(spark).collect()
    }


def test_mor_partitioned_read_where_prunes_partitions(spark, tmp_path):
    """Partition-path pruning composes with the precedence join: a
    partition predicate drops other partitions' data files from the
    MoR scan, and the answer equals the unpruned filter."""
    t = ParquetKeyedTable(
        str(tmp_path / "pp"), ["p", "k"], partition_by=["p"], write_mode="mor"
    )
    t.upsert(spark, spark.createDataFrame(
        [Row(p=i % 10, k=i, v=float(i)) for i in range(1000)]
    ))
    t.upsert(spark, spark.createDataFrame([Row(p=1, k=11, v=-11.0)]))
    t.delete_keys(spark, spark.createDataFrame([Row(p=1, k=21), Row(p=2, k=32)]))
    df, rep = t.read_where(spark, [("p", "=", 1)], with_report=True)
    assert rep["files_skipped"] > 0
    got = {(r["p"], r["k"], r["v"]) for r in df.collect()}
    want = {
        (r["p"], r["k"], r["v"]) for r in t.read(spark).where("p = 1").collect()
    }
    assert got == want
    assert (1, 11, -11.0) in got and not any(k == 21 for _, k, _v in got)


def test_mor_partition_moving_update(spark, tmp_path):
    """When the partition column is NOT part of the key, an update may
    move a key between partitions. MoR handles this by construction —
    the tombstone addresses the key, wherever its old row lives — so
    the moved key appears exactly once, in its new partition."""
    t = ParquetKeyedTable(
        str(tmp_path / "mv"), ["k"], partition_by=["p"], write_mode="mor"
    )
    t.upsert(spark, spark.createDataFrame(
        [Row(k=i, p=i % 3, v=float(i)) for i in range(30)]
    ))
    t.upsert(spark, spark.createDataFrame([Row(k=1, p=9, v=-1.0)]))  # 1 moves 1->9
    rows = [(r["k"], r["p"], r["v"]) for r in t.read(spark).where("k = 1").collect()]
    assert rows == [(1, 9, -1.0)]
    assert t.read(spark).count() == 30
    # CDF sees it as an update, not delete+insert of different keys
    ev = t.commit_changes(spark, 0)
    kinds = {r["_change_type"] for r in ev.where("k = 1").collect()}
    assert kinds == {"update_preimage", "update_postimage"}


# -- Delta-table IMPORT (sources/delta_import.py) ----------------------------


def _foreign_delta_table(spark, root, rows_v0, rows_v1_replaced=None,
                         part_col="p", protocol=None):
    """Hand-craft a FOREIGN-layout Delta table: flat part files (no hive
    dirs, partition column NOT in the files — exactly what a real Delta
    writer produces), partitionValues only in the log."""
    import json as _json

    import pyarrow as _pa
    import pyarrow.parquet as _pq

    os.makedirs(os.path.join(root, "_delta_log"), exist_ok=True)
    schema_json = spark.createDataFrame(rows_v0).schema.json()

    def write_file(name, rows):
        data = [{k: v for k, v in r.asDict().items() if k != part_col} for r in rows]
        _pq.write_table(_pa.Table.from_pylist(data), os.path.join(root, name))
        return name

    by_p = {}
    for r in rows_v0:
        by_p.setdefault(r[part_col], []).append(r)
    actions = [
        {"protocol": protocol or {"minReaderVersion": 1, "minWriterVersion": 2}},
        {"metaData": {
            "id": "foreign", "format": {"provider": "parquet", "options": {}},
            "schemaString": schema_json, "partitionColumns": [part_col],
            "configuration": {}, "createdTime": 0,
        }},
    ]
    v0_files = {}
    for i, (pv, rows) in enumerate(sorted(by_p.items(), key=lambda kv: str(kv[0]))):
        # a space in the name exercises percent-encoding round-trip
        name = write_file(f"part 0000{i}.parquet", rows)
        v0_files[pv] = name.replace(" ", "%20")
        actions.append({"add": {
            "path": name.replace(" ", "%20"),
            "partitionValues": {part_col: None if pv is None else str(pv)},
            "size": os.path.getsize(os.path.join(root, name)),
            "modificationTime": 0, "dataChange": True,
        }})
    with open(os.path.join(root, "_delta_log", f"{0:020d}.json"), "w") as fh:
        for a in actions:
            fh.write(_json.dumps(a) + "\n")
    if rows_v1_replaced is not None:
        pv, rows = rows_v1_replaced
        name = write_file("part-v1-00000.parquet", rows)
        acts = [
            {"remove": {"path": v0_files[pv], "dataChange": True}},
            {"add": {
                "path": name,
                "partitionValues": {part_col: None if pv is None else str(pv)},
                "size": os.path.getsize(os.path.join(root, name)),
                "modificationTime": 1, "dataChange": True,
            }},
            {"txn": {"appId": "upstream", "version": 41, "lastUpdated": 1}},
        ]
        with open(os.path.join(root, "_delta_log", f"{1:020d}.json"), "w") as fh:
            for a in acts:
                fh.write(_json.dumps(a) + "\n")
    return root


def test_delta_import_foreign_layout(spark, tmp_path):
    """Flat files, partition values ONLY in the log (incl. the null
    partition), percent-encoded paths, add/remove reconciliation,
    VERSION AS OF, and the SetTransaction surface."""
    from bw_new_data_integration_spark.sources import delta_import as di

    rows = [Row(p="a", k=1, v=1.0), Row(p="a", k=2, v=2.0),
            Row(p="b", k=3, v=3.0), Row(p=None, k=4, v=4.0)]
    repl = ("a", [Row(p="a", k=1, v=-1.0)])  # v1 rewrites partition a
    root = _foreign_delta_table(spark, str(tmp_path / "ft"), rows, repl)
    got = {(r["p"], r["k"], r["v"]) for r in di.read_delta(spark, root).collect()}
    assert got == {("a", 1, -1.0), ("b", 3, 3.0), (None, 4, 4.0)}
    got0 = {(r["p"], r["k"], r["v"]) for r in di.read_delta(spark, root, version=0).collect()}
    assert got0 == {("a", 1, 1.0), ("a", 2, 2.0), ("b", 3, 3.0), (None, 4, 4.0)}
    assert di.delta_last_txn(root, "upstream") == 41
    assert di.delta_last_txn(root, "upstream", version=0) is None
    # typed partition column (string here), schema order preserved
    df = di.read_delta(spark, root)
    assert df.columns == ["p", "k", "v"]
    # column projection still attaches partition literals
    got_kp = {(r["k"], r["p"]) for r in di.read_delta(spark, root, columns=["p", "k"]).collect()}
    assert got_kp == {(1, "a"), (3, "b"), (4, None)}


def test_delta_import_partition_pruning_and_typed_values(spark, tmp_path):
    """partition_predicate drops whole partition groups before any file
    enters the plan; an integer partition column round-trips typed."""
    from bw_new_data_integration_spark.sources import delta_import as di

    rows = [Row(p=i % 3, k=i, v=float(i)) for i in range(30)]
    root = _foreign_delta_table(spark, str(tmp_path / "ip"), rows)
    full = di.read_delta(spark, root)
    assert dict(full.dtypes)["p"] == "bigint"
    pruned = di.read_delta(
        spark, root, partition_predicate=lambda pv: pv["p"] == "1"
    )
    assert len(set(pruned.inputFiles())) < len(set(full.inputFiles()))
    got = {(r["p"], r["k"]) for r in pruned.collect()}
    assert got == {(1, i) for i in range(30) if i % 3 == 1}
    # fully pruned -> empty frame with the table schema
    empty = di.read_delta(spark, root, partition_predicate=lambda pv: False)
    assert empty.count() == 0 and empty.columns == ["p", "k", "v"]


def test_delta_import_refuses_unsupported_protocol_and_gaps(spark, tmp_path):
    from bw_new_data_integration_spark.sources import delta_import as di

    rows = [Row(p="a", k=1, v=1.0)]
    root = _foreign_delta_table(
        spark, str(tmp_path / "rp"), rows,
        protocol={"minReaderVersion": 3, "minWriterVersion": 7,
                  "readerFeatures": ["deletionVectors"]},
    )
    with pytest.raises(ValueError, match="deletionVectors"):
        di.read_delta(spark, root)
    # minReaderVersion=2 (legacy column mapping) has NO readerFeatures
    # list — the subset test is vacuously true, so the gate must refuse
    # on the version alone (serving it would read physical names wrong)
    root_rv2 = _foreign_delta_table(
        spark, str(tmp_path / "rv2"), rows,
        protocol={"minReaderVersion": 2, "minWriterVersion": 5},
    )
    with pytest.raises(ValueError, match="minReaderVersion=2"):
        di.read_delta(spark, root_rv2)
    root2 = _foreign_delta_table(spark, str(tmp_path / "gap"), rows)
    os.rename(
        os.path.join(root2, "_delta_log", f"{0:020d}.json"),
        os.path.join(root2, "_delta_log", f"{2:020d}.json"),
    )
    with pytest.raises(ValueError, match="starts at version 0"):
        di.read_delta(spark, root2)


def test_delta_import_roundtrips_own_export(spark, tmp_path):
    """Interop closure: a table exported by export_delta_log reads back
    identically through the import path at every exported version —
    including a vacuum-truncated log served from its checkpoint."""
    from bw_new_data_integration_spark.sources import delta_import as di

    t = ParquetKeyedTable(
        str(tmp_path / "rt"), ["part", "k"], partition_by=["part"]
    )
    t.overwrite(spark.createDataFrame(
        [Row(part=f"p{i % 3}", k=i, v=float(i)) for i in range(30)]
    ))
    t.upsert(spark, spark.createDataFrame([Row(part="p1", k=1, v=-1.0)]))
    t.upsert(spark, spark.createDataFrame([Row(part="p9", k=90, v=9.0)]))
    t.export_delta_log(spark)
    for v in range(t.current_version() + 1):
        a = {tuple(r) for r in di.read_delta(spark, t.path, version=v).select("part", "k", "v").collect()}
        b = {tuple(r) for r in t.read(spark, v).select("part", "k", "v").collect()}
        assert a == b, f"version {v}"
    t.vacuum(keep_last=1)
    t.export_delta_log(spark)
    a = {tuple(r) for r in di.read_delta(spark, t.path).select("part", "k", "v").collect()}
    assert a == b


def test_runner_from_delta_source(spark, tmp_path, capsys):
    """--from-delta: the pipeline's source table arrives as an external
    Delta table (log replay) instead of a parquet fixture — the plan,
    slicers, and target merge run unchanged, and the result table is
    bit-identical to the parquet-sourced run. @VERSION time-travels."""
    from bw_new_data_integration_spark import catalog, runner
    from bw_new_data_integration_spark.sources.parquet_target import ParquetKeyedTable

    # stage lineitem as a keyed table and export its delta log (v0 full,
    # v1 adds rows the parquet fixture does NOT have)
    li = catalog.load(spark, "/root/testdata/sf0.001", "lineitem")
    src_t = ParquetKeyedTable(
        str(tmp_path / "li_delta"), ["l_orderkey", "l_linenumber"], cluster="none"
    )
    src_t.overwrite(li)  # v0 == the fixture
    extra = li.limit(1).withColumn("l_orderkey", F.lit(999_999_999).cast("long"))
    src_t.upsert(spark, extra.localCheckpoint(eager=True))  # v1 = fixture + 1 row
    src_t.export_delta_log(spark)

    base = ["--query", "daily_sales", "--sf-dir", "/root/testdata/sf0.001"]
    assert runner.main(base + ["--target-root", str(tmp_path / "tp")]) == 0
    assert runner.main(
        base + ["--target-root", str(tmp_path / "td"),
                "--from-delta", f"{src_t.path}@0"]
    ) == 0
    tp = ParquetKeyedTable(str(tmp_path / "tp" / "target_daily_sales"), ["business_key"])
    td = ParquetKeyedTable(str(tmp_path / "td" / "target_daily_sales"), ["business_key"])
    a = {tuple(r) for r in tp.read(spark).drop("last_refreshed").collect()}
    b = {tuple(r) for r in td.read(spark).drop("last_refreshed").collect()}
    assert a == b and a
    # latest version sees the extra row -> one more business key group
    assert runner.main(
        base + ["--target-root", str(tmp_path / "td1"),
                "--from-delta", src_t.path, "--dry-run"]
    ) == 0
    out = capsys.readouterr().out
    assert "'rows_out':" in out


def test_delta_import_increment_append_only(spark, tmp_path):
    """Incremental consumption of an append-only foreign Delta table:
    versions' new adds ARE the increment; rewriting versions refuse
    (no file-level increment exists); dataChange:false compaction adds
    are skipped, not re-served."""
    import json as _json

    from bw_new_data_integration_spark.sources import delta_import as di

    rows = [Row(p="a", k=1, v=1.0), Row(p="b", k=2, v=2.0)]
    root = _foreign_delta_table(spark, str(tmp_path / "inc"), rows)

    def append_version(v, name, rows, pv, data_change=True):
        import pyarrow as _pa
        import pyarrow.parquet as _pq

        data = [{k: x for k, x in r.asDict().items() if k != "p"} for r in rows]
        _pq.write_table(_pa.Table.from_pylist(data), os.path.join(root, name))
        with open(os.path.join(root, "_delta_log", f"{v:020d}.json"), "w") as fh:
            fh.write(_json.dumps({"add": {
                "path": name, "partitionValues": {"p": pv},
                "size": os.path.getsize(os.path.join(root, name)),
                "modificationTime": v, "dataChange": data_change,
            }}) + "\n")

    append_version(1, "part-a1.parquet", [Row(p="a", k=10, v=10.0)], "a")
    append_version(2, "part-c0.parquet", [Row(p="c", k=20, v=20.0)], "c")
    inc = di.read_delta_increment(spark, root, from_version=0)
    got = {(r["p"], r["k"], r["v"], r["_commit_version"]) for r in inc.collect()}
    assert got == {("a", 10, 10.0, 1), ("c", 20, 20.0, 2)}
    # partial range
    inc1 = di.read_delta_increment(spark, root, 1, 2)
    assert {(r["k"], r["_commit_version"]) for r in inc1.collect()} == {(20, 2)}
    # empty range -> empty frame with schema + _commit_version
    empty = di.read_delta_increment(spark, root, 2)
    assert empty.count() == 0 and "_commit_version" in empty.columns
    # dataChange:false (honest compaction) is skipped
    append_version(3, "part-compact.parquet", [Row(p="a", k=1, v=1.0)], "a",
                   data_change=False)
    assert di.read_delta_increment(spark, root, 2).count() == 0
    # a REAL OPTIMIZE commit pairs dataChange:false adds with
    # dataChange:false removes — the span must stay incremental (no
    # rebootstrap for honest compaction), serving zero new rows
    with open(os.path.join(root, "_delta_log", f"{4:020d}.json"), "w") as fh:
        fh.write(_json.dumps({"remove": {
            "path": "part-a1.parquet", "dataChange": False,
        }}) + "\n")
        fh.write(_json.dumps({"add": {
            "path": "part-compact.parquet", "partitionValues": {"p": "a"},
            "size": os.path.getsize(os.path.join(root, "part-compact.parquet")),
            "modificationTime": 4, "dataChange": False,
        }}) + "\n")
    assert di.read_delta_increment(spark, root, 2).count() == 0
    # a rewriting version (dataChange:true remove) refuses
    with open(os.path.join(root, "_delta_log", f"{5:020d}.json"), "w") as fh:
        fh.write(_json.dumps({"remove": {"path": "part-a1.parquet", "dataChange": True}}) + "\n")
    with pytest.raises(ValueError, match="re-bootstrap"):
        di.read_delta_increment(spark, root, 0)
    # ...but the range BEFORE the rewrite still serves
    assert di.read_delta_increment(spark, root, 0, 2).count() == 2


def test_delta_import_stats_pruning(spark, tmp_path):
    """Import-side data skipping: add.stats min/max (the same stats the
    exporter ships) prune files driver-side; the residual filter keeps
    the answer exact; all-null columns are null-rejecting; partition
    predicates prune via the log's partitionValues."""
    from bw_new_data_integration_spark.sources import delta_import as di
    from bw_new_data_integration_spark.sources.parquet_target import ParquetKeyedTable

    # exporter-written stats: keyed range table, k-sorted files
    t = ParquetKeyedTable(str(tmp_path / "sp"), ["k"], stats_cols=["v"])
    t.upsert(spark, spark.createDataFrame([Row(k=i, v=float(i)) for i in range(2000)]))
    t.compact(spark, target_file_bytes=8192)  # many k-ranged files with stats
    t.export_delta_log(spark)
    df, rep = di.read_delta(
        spark, t.path, predicates=[("k", "between", (100, 150))], with_report=True
    )
    assert rep["files_skipped"] > 0 and rep["files_read"] >= 1
    got = {(r["k"], r["v"]) for r in df.collect()}
    assert got == {(i, float(i)) for i in range(100, 151)}
    # stats on a non-key column prune too (v tracks k here)
    df2, rep2 = di.read_delta(
        spark, t.path, predicates=[("v", ">=", 1900.0)], with_report=True
    )
    assert rep2["files_skipped"] > 0
    assert df2.count() == 100
    # foreign table: hand-written stats incl. an all-null column
    import json as _json

    import pyarrow as _pa
    import pyarrow.parquet as _pq

    root = str(tmp_path / "fs")
    os.makedirs(os.path.join(root, "_delta_log"))
    schema_json = spark.createDataFrame([Row(p="a", k=1, v=1.0)]).schema.json()
    acts = [
        {"protocol": {"minReaderVersion": 1, "minWriterVersion": 2}},
        {"metaData": {"id": "f", "format": {"provider": "parquet", "options": {}},
                      "schemaString": schema_json, "partitionColumns": ["p"],
                      "configuration": {}, "createdTime": 0}},
    ]
    _pq.write_table(_pa.Table.from_pylist([{"k": 1, "v": None}]), os.path.join(root, "f0.parquet"))
    _pq.write_table(_pa.Table.from_pylist([{"k": 9, "v": 9.0}]), os.path.join(root, "f1.parquet"))
    acts.append({"add": {"path": "f0.parquet", "partitionValues": {"p": "a"},
                         "size": 1, "modificationTime": 0, "dataChange": True,
                         "stats": _json.dumps({"numRecords": 1, "minValues": {"k": 1},
                                               "maxValues": {"k": 1},
                                               "nullCount": {"k": 0, "v": 1}})}})
    acts.append({"add": {"path": "f1.parquet", "partitionValues": {"p": "b"},
                         "size": 1, "modificationTime": 0, "dataChange": True,
                         "stats": _json.dumps({"numRecords": 1, "minValues": {"k": 9, "v": 9.0},
                                               "maxValues": {"k": 9, "v": 9.0},
                                               "nullCount": {"k": 0, "v": 0}})}})
    with open(os.path.join(root, "_delta_log", f"{0:020d}.json"), "w") as fh:
        for a in acts:
            fh.write(_json.dumps(a) + "\n")
    # v is all-null in f0 -> any v predicate skips it
    d, r = di.read_delta(spark, root, predicates=[("v", ">", 0.0)], with_report=True)
    assert r["files_skipped"] == 1
    assert {(x["p"], x["k"]) for x in d.collect()} == {("b", 9)}
    # partition predicate via the log value
    d2, r2 = di.read_delta(spark, root, predicates=[("p", "=", "a")], with_report=True)
    assert r2["files_skipped"] == 1
    assert {(x["p"], x["k"]) for x in d2.collect()} == {("a", 1)}
    # projecting away a predicated column is an error, not silence
    with pytest.raises(ValueError, match="projected-away"):
        di.read_delta(spark, root, predicates=[("v", ">", 0.0)], columns=["k"])


def test_mor_schema_evolution_is_metadata_only(spark, tmp_path):
    """K5 on merge-on-read: adding a column is O(batch) — only the
    batch's files carry it, the linked history reads as null through
    the allowMissingColumns union; the evolved commit is CDF-untracked
    (exact snapshot-diff fallback), and a later narrower source falls
    back to the full merge, folding the tombstones."""
    t = ParquetKeyedTable(str(tmp_path / "ev"), ["k"], write_mode="mor",
                          change_feed=True)
    t.upsert(spark, spark.createDataFrame([Row(k=i, v=float(i)) for i in range(50)]))
    n_files = t.manifest()["n_files"]
    wave = spark.createDataFrame([Row(k=1, v=-1.0, extra="x"), Row(k=99, v=9.0, extra="y")])
    t.upsert(spark, wave, evolve_schema=True)
    m = t.manifest()
    assert m["operation"] == "mor_upsert"
    assert m["n_linked"] == n_files  # O(batch): every old file carried forward
    assert m.get("cdf") is None  # evolving commit is CDF-untracked
    df = t.read(spark)
    assert "extra" in df.columns
    rows = {(r["k"], r["v"], r["extra"]) for r in df.collect()}
    assert (1, -1.0, "x") in rows and (99, 9.0, "y") in rows
    assert (2, 2.0, None) in rows and len(rows) == 51
    # commit feed is exact via the snapshot-diff fallback
    ev = t.commit_changes(spark, 0)
    kinds = {(r["k"], r["_change_type"]) for r in ev.collect()}
    assert (1, "update_preimage") in kinds and (1, "update_postimage") in kinds
    assert (99, "insert") in kinds
    post = {r["extra"] for r in ev.where("k = 99").collect()}
    assert post == {"y"}  # the new column reaches the feed
    # narrower source (no 'extra', mergeSchema semantics) -> full COW
    # merge, tombstones folded
    t.upsert(spark, spark.createDataFrame([Row(k=2, v=22.0)]), evolve_schema=True)
    assert t.manifest()["tombstones"] == []
    rows2 = {(r["k"], r["v"], r["extra"]) for r in t.read(spark).collect()}
    assert (2, 22.0, None) in rows2 and (1, -1.0, "x") in rows2


def test_compact_where_rewrites_only_matching_partitions(spark, tmp_path):
    """OPTIMIZE ... WHERE parity: fragment one partition with many
    small upserts, compact only it — other partitions' files hard-link
    forward untouched, rows are unchanged, the feed sees a no-op, and
    the fragmented partition's file count drops."""
    t = ParquetKeyedTable(
        str(tmp_path / "cw"), ["p", "k"], partition_by=["p"], change_feed=True
    )
    # a many-task load fragments every partition dir (tasks x dirs
    # files — the nightly-ingest shape compaction exists for); AQE
    # would coalesce this tiny fixture shuffle, hiding the fragmentation
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    try:
        t.upsert(spark, spark.createDataFrame(
            [Row(p=i % 4, k=i, v=float(i)) for i in range(400)]
        ).repartition(8))
    finally:
        spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "true")
    m0 = t.manifest()
    p1_before = sum(1 for f in m0["files"] if f["path"].startswith("p=1/"))
    other_before = {f["path"] for f in m0["files"] if not f["path"].startswith("p=1/")}
    assert p1_before >= 7
    want = {(r["p"], r["k"], r["v"]) for r in t.read(spark).collect()}
    v = t.compact_where(spark, [("p", "=", 1)])
    m1 = t.manifest(v)
    assert m1["operation"] == "compact_where"
    p1_after = [f for f in m1["files"] if f["path"].startswith("p=1/")]
    assert len(p1_after) < p1_before and all(not f["linked"] for f in p1_after)
    kept = {f["path"] for f in m1["files"] if not f["path"].startswith("p=1/")}
    assert kept == other_before  # byte-identical hard links elsewhere
    assert all(f["linked"] for f in m1["files"] if not f["path"].startswith("p=1/"))
    assert {(r["p"], r["k"], r["v"]) for r in t.read(spark).collect()} == want
    ev = t.commit_changes(spark, v - 1, v)
    assert ev.count() == 0  # logical no-op
    # no-match scope: no new version
    assert t.compact_where(spark, [("p", "=", 99)]) == v
    # guards: non-partition predicate / unpartitioned table / MoR tombstones
    with pytest.raises(ValueError, match="not partition columns"):
        t.compact_where(spark, [("k", ">", 0)])
    u = ParquetKeyedTable(str(tmp_path / "cw_u"), ["k"])
    u.upsert(spark, spark.createDataFrame([Row(k=1, v=1.0)]))
    with pytest.raises(ValueError, match="not partitioned"):
        u.compact_where(spark, [("p", "=", 1)])
    mt = ParquetKeyedTable(
        str(tmp_path / "cw_m"), ["p", "k"], partition_by=["p"], write_mode="mor"
    )
    mt.upsert(spark, spark.createDataFrame([Row(p=0, k=1, v=1.0), Row(p=1, k=2, v=2.0)]))
    mt.upsert(spark, spark.createDataFrame([Row(p=0, k=1, v=-1.0)]))
    with pytest.raises(ValueError, match="tombstones"):
        mt.compact_where(spark, [("p", "=", 0)])


def test_compact_where_splits_oversized_partitions(spark, tmp_path):
    """The key-hash salt honors target_file_bytes WITHIN a partition:
    one big partition compacts into several right-sized files, not one
    giant one — deterministically (same assignment on re-run)."""
    t = ParquetKeyedTable(str(tmp_path / "cs"), ["p", "k"], partition_by=["p"])
    t.upsert(spark, spark.createDataFrame(
        [Row(p=0, k=i, v=float(i), pad="x" * 200) for i in range(5000)]
    ))
    want = t.read(spark).count()
    v = t.compact_where(spark, [("p", "=", 0)], target_file_bytes=8 << 10)
    files = [f for f in t.manifest(v)["files"] if f["path"].startswith("p=0/")]
    assert len(files) > 1  # split, not one giant file
    assert t.read(spark).count() == want


def test_maybe_compact_partition_aware(spark, tmp_path):
    """When fragmentation is confined to a subset of partitions, the
    auto-compaction policy issues a partition-scoped compact_where —
    untouched partitions hard-link forward — and falls back to the full
    compact when every partition is fragmented."""
    t = ParquetKeyedTable(str(tmp_path / "mcp"), ["p", "k"], partition_by=["p"])
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    try:
        # partition 0: tight (1 task); partitions 1-2 written fragmented
        t.upsert(spark, spark.createDataFrame(
            [Row(p=0, k=i, v=float(i)) for i in range(100)]
        ).coalesce(1))
        t.upsert(spark, spark.createDataFrame(
            [Row(p=1 + i % 2, k=1000 + i, v=float(i)) for i in range(200)]
        ).repartition(8))
    finally:
        spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "true")
    m0 = t.manifest()
    p0_before = {f["path"] for f in m0["files"] if f["path"].startswith("p=0/")}
    want = {(r["p"], r["k"], r["v"]) for r in t.read(spark).collect()}
    v = t.maybe_compact(spark, max_files=12, small_file_bytes=4 << 20)
    assert v is not None
    m1 = t.manifest(v)
    assert m1["operation"] == "compact_where"  # scoped, not full
    assert {f["path"] for f in m1["files"] if f["path"].startswith("p=0/")} == p0_before
    assert all(f["linked"] for f in m1["files"] if f["path"].startswith("p=0/"))
    assert {(r["p"], r["k"], r["v"]) for r in t.read(spark).collect()} == want
    # all partitions fragmented -> full compact
    t2 = ParquetKeyedTable(str(tmp_path / "mcp2"), ["p", "k"], partition_by=["p"])
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    try:
        t2.upsert(spark, spark.createDataFrame(
            [Row(p=i % 3, k=i, v=float(i)) for i in range(300)]
        ).repartition(8))
    finally:
        spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "true")
    v2 = t2.maybe_compact(spark, max_files=6, small_file_bytes=4 << 20)
    assert v2 is not None and t2.manifest(v2)["operation"] == "compact"


def test_partitioned_mor_purge_export_import_roundtrip(spark, tmp_path):
    """The round-12 features composed: a PARTITIONED merge-on-read
    table with churn + a partition-moving update exports via purge
    (compact folds the tombstones) and reads back bit-identically
    through the import path — partition values typed from the log."""
    from bw_new_data_integration_spark.sources import delta_import as di

    t = ParquetKeyedTable(
        str(tmp_path / "pmx"), ["k"], partition_by=["p"], write_mode="mor"
    )
    t.upsert(spark, spark.createDataFrame(
        [Row(k=i, p=i % 3, v=float(i)) for i in range(60)]
    ))
    t.upsert(spark, spark.createDataFrame([Row(k=1, p=9, v=-1.0)]))  # moves 1->9
    t.delete_keys(spark, spark.createDataFrame([Row(k=2)]))
    assert t.manifest()["tombstones"]
    t.export_delta_log(spark, purge=True)
    assert t.manifest()["tombstones"] == []
    a = {(r["k"], r["p"], r["v"]) for r in di.read_delta(spark, t.path).collect()}
    b = {(r["k"], r["p"], r["v"]) for r in t.read(spark).collect()}
    assert a == b and (1, 9, -1.0) in a and not any(k == 2 for k, _, _ in a)
    # partition pruning through the import path agrees with the engine
    pruned = di.read_delta(spark, t.path, predicates=[("p", "=", 9)])
    assert {(r["k"], r["v"]) for r in pruned.collect()} == {(1, -1.0)}


def test_sync_from_delta_watermarked_ingest(spark, tmp_path):
    """Incremental lake ingest: bootstrap from the snapshot, noop when
    nothing is new, apply appended versions with last-write-wins by
    commit version, and re-bootstrap when upstream rewrote files. The
    watermark advances atomically with each commit."""
    import json as _json

    import pyarrow as _pa
    import pyarrow.parquet as _pq

    from bw_new_data_integration_spark.sources import delta_import as di

    rows = [Row(p="a", k=1, v=1.0), Row(p="b", k=2, v=2.0)]
    root = _foreign_delta_table(spark, str(tmp_path / "ing"), rows)

    def append(v, name, data, pv):
        _pq.write_table(_pa.Table.from_pylist(data), os.path.join(root, name))
        with open(os.path.join(root, "_delta_log", f"{v:020d}.json"), "w") as fh:
            fh.write(_json.dumps({"add": {
                "path": name, "partitionValues": {"p": pv},
                "size": os.path.getsize(os.path.join(root, name)),
                "modificationTime": v, "dataChange": True,
            }}) + "\n")

    t = ParquetKeyedTable(str(tmp_path / "ing_t"), ["k"])
    st = di.sync_from_delta(spark, root, t)
    assert st["action"] == "bootstrap" and st["watermark"] == 0
    assert {(r["k"], r["v"]) for r in t.read(spark).collect()} == {(1, 1.0), (2, 2.0)}
    assert di.sync_from_delta(spark, root, t)["action"] == "noop"
    # two appends; k=1 re-appended in v2 (newest commit must win)
    append(1, "a1.parquet", [{"k": 3, "v": 3.0}], "a")
    append(2, "a2.parquet", [{"k": 1, "v": -1.0}, {"k": 4, "v": 4.0}], "b")
    st = di.sync_from_delta(spark, root, t)
    assert st["action"] == "incremental" and st["applied_versions"] == [1, 2]
    got = {(r["k"], r["v"]) for r in t.read(spark).collect()}
    assert got == {(1, -1.0), (2, 2.0), (3, 3.0), (4, 4.0)}
    assert di.sync_from_delta(spark, root, t)["action"] == "noop"  # replay-safe
    # upstream rewrite (compaction/merge) -> honest re-bootstrap
    with open(os.path.join(root, "_delta_log", f"{3:020d}.json"), "w") as fh:
        fh.write(_json.dumps({"remove": {"path": "a1.parquet", "dataChange": True}}) + "\n")
    st = di.sync_from_delta(spark, root, t)
    assert st["action"] == "rebootstrap" and st["watermark"] == 3
    got = {(r["k"], r["v"]) for r in t.read(spark).collect()}
    assert got == {(1, -1.0), (2, 2.0), (4, 4.0)}  # k=3's file was removed upstream
    assert di.sync_from_delta(spark, root, t)["action"] == "noop"


def test_matview_maintenance_over_partitioned_mor_base(spark, tmp_path):
    """Round-12 composition: the incremental rollup consumes a
    PARTITIONED merge-on-read base's CDC feed — churn across
    partitions, a partition-moving update, and a delete all fold into
    the maintained aggregate bit-equal to full recompute."""
    from bw_new_data_integration_spark.operators.matview import (
        _full_rollup,
        maintain_rollup,
    )

    t = ParquetKeyedTable(
        str(tmp_path / "pmvb"), ["k"], partition_by=["grp"],
        write_mode="mor", change_feed=True,
    )
    roll = ParquetKeyedTable(str(tmp_path / "pmvr"), ["grp"])
    mv = lambda: maintain_rollup(spark, t, roll, ["grp"], {"sum_v": "v"})  # noqa: E731
    t.upsert(spark, spark.createDataFrame(
        [Row(k=i, grp=i % 5, v=float(i)) for i in range(200)]
    ))
    mv()
    t.upsert(spark, spark.createDataFrame(
        [Row(k=i, grp=i % 5, v=-2.0) for i in range(0, 200, 3)]
    ))
    # partition-moving update: k=7 leaves grp 2 for grp 9
    t.upsert(spark, spark.createDataFrame([Row(k=7, grp=9, v=77.0)]))
    t.delete_keys(spark, spark.createDataFrame([Row(k=i) for i in range(10, 30)]))
    stats = mv()
    assert stats["action"] == "incremental"
    got = {r["grp"]: (str(r["sum_v"]), r["n_rows"]) for r in roll.read(spark).collect()}
    want = {
        r["grp"]: (str(r["sum_v"]), r["n_rows"])
        for r in _full_rollup(t.read(spark), ["grp"], {"sum_v": "v"}, "n_rows").collect()
    }
    assert got == want
    assert 9 in got  # the moved key's new partition group exists


def test_vacuum_retention_guard(spark, tmp_path):
    """min_age_seconds keeps versions younger than the retention even
    beyond keep_last (a lock-free reader that just resolved its file
    list may still be scanning) — and an aged history still vacuums."""
    t = ParquetKeyedTable(str(tmp_path / "vr"), ["k"])
    for i in range(4):
        t.upsert(spark, spark.createDataFrame([Row(k=i, v=float(i))]))
    # everything committed seconds ago: a 1-hour retention removes nothing
    assert t.vacuum(keep_last=1, min_age_seconds=3600) == []
    assert all(t.manifest(v) is not None for v in range(4))
    # age the early commits below the cutoff (manifests carry the time)
    for v in (0, 1):
        m = t.manifest(v)
        m["timestamp"] -= 7200
        with open(os.path.join(t._snapshot_dir(v), "_manifest.json"), "w") as fh:
            json.dump(m, fh)
    assert t.vacuum(keep_last=1, min_age_seconds=3600) == [0, 1]
    assert t.manifest(2) is not None and t.read(spark).count() == 4
    # default stays unguarded
    assert t.vacuum(keep_last=1) == [2]


def test_compact_where_zorder_scoped(spark, tmp_path):
    """OPTIMIZE ... WHERE ... ZORDER BY: one partition re-clusters on
    the Morton curve (box queries touch strictly fewer files via
    read_where), other partitions hard-link forward, rows unchanged;
    z-ordering a partition column refuses."""
    t = ParquetKeyedTable(
        str(tmp_path / "zw"), ["p", "k"], partition_by=["p"], stats_cols=["x", "y"]
    )
    rows = [
        Row(p=i % 2, k=i, x=(i * 7) % 100, y=(i * 13) % 100, v=float(i))
        for i in range(4000)
    ]
    t.upsert(spark, spark.createDataFrame(rows))
    want = {(r["p"], r["k"]) for r in t.read(spark).collect()}
    with pytest.raises(ValueError, match="partition columns"):
        t.compact_where(spark, [("p", "=", 0)], zorder_by=("p", "x"))
    v = t.compact_where(
        spark, [("p", "=", 0)], target_file_bytes=16 << 10, zorder_by=("x", "y")
    )
    m = t.manifest(v)
    p0 = [f for f in m["files"] if f["path"].startswith("p=0/")]
    assert len(p0) > 1 and all(not f["linked"] for f in p0)
    assert all(f["linked"] for f in m["files"] if not f["path"].startswith("p=0/"))
    assert {(r["p"], r["k"]) for r in t.read(spark).collect()} == want
    # the z layout makes a 2-D box prune within the scoped partition
    df, rep = t.read_where(
        spark, [("p", "=", 0), ("x", "between", (0, 20)), ("y", "between", (0, 20))],
        with_report=True,
    )
    assert rep["files_skipped"] > 0
    got = {(r["p"], r["k"]) for r in df.collect()}
    exact = {
        (r["p"], r["k"])
        for r in t.read(spark)
        .where("p = 0 and x between 0 and 20 and y between 0 and 20")
        .collect()
    }
    assert got == exact
