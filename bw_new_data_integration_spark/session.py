"""SparkSession factory tuned for this engine.

Local test mode runs ``local[N]`` in one JVM; the config here is chosen
so the same code scales to a multi-executor cluster: AQE on (runtime
re-planning, skew-join splitting, partition coalescing), UTC session
timezone (date-only semantics must not shift across executor zones —
the reference deliberately strips time from calendar dates for exactly
this reason, see SURVEY.md §7.3), Arrow for the pandas boundary.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

__all__ = ["get_spark", "tune_for_oracle_parity"]


def get_spark(
    app_name: str = "bw_new_data_integration_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build a SparkSession with engine defaults, or return the running
    one untouched.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (or ``local[*]``)
    when no cluster master is configured; on a real cluster, pass the
    cluster master or rely on spark-submit.

    A session that is already running keeps its conf: ``getOrCreate``
    on it would re-apply this builder's runtime SQL conf (shuffle
    partitions, AQE, ...) over whatever its owner chose — a pipeline
    run inside a test or notebook session silently re-tuned it.
    """
    active = SparkSession.getActiveSession()
    if active is not None:
        return active
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        cpus_env = os.environ.get("SPARK_GRAFT_CPUS")
        shuffle_partitions = int(cpus_env) if cpus_env and cpus_env.isdigit() else 32

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        # local mode defaults to a 1g driver heap — size it to the box
        # (only takes effect at JVM launch; harmless on reuse)
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.aggregatePushdown", "true")
        # write INT64 micros, not legacy INT96: INT96 column chunks
        # carry NO footer min/max, which silently disables stats-based
        # data skipping (read_where) and key-range merge scoping on
        # every timestamp column the engine writes
        .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.ui.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def tune_for_oracle_parity(spark: SparkSession) -> SparkSession:
    """Runtime confs required for bit-exact DuckDB-oracle comparison.

    Safe to call on a session we did not create (the driver's). Only
    touches runtime-settable SQL confs:

    - UTC session timezone: parquet timestamps are stored naive; DuckDB
      reads them verbatim, Spark interprets them in the session zone —
      UTC makes ``hour()``/``date_trunc()`` agree.
    - INT64-micros parquet timestamps: legacy INT96 chunks have no
      footer min/max (kills stats skipping on engine-written tables)
      and DuckDB reads INT96 with extra conversion steps.
    """
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
    return spark
