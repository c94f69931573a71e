"""reference_core query-family module — split from the monolithic queries.py
(round 6). Registration side effects only; the public registry surface
lives in the package __init__."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from bw_new_data_integration_spark import catalog
from bw_new_data_integration_spark.functions import coercion, keys, text, vectors
from bw_new_data_integration_spark.operators import (
    aggregate,
    dedup,
    merge,
    similarity,
    window_ops,
)
from bw_new_data_integration_spark.session import tune_for_oracle_parity  # noqa: F401
from bw_new_data_integration_spark.queries._shared import (  # noqa: F401
    _REGISTRY,
    _ORACLES,
    register,
    registry,
    oracles,
    _t,
    _fanout,
    _collect_capped,
    _SHINGLE_SQL,
    _minhash_select_sql,
    _lsh_oracle,
    _BOILER_TEXT,
    _capped_lsh_oracle,
    _simhash_oracle,
    _dot_sql,
    _COS_SQL,
    _STOPWORD_LIST_SQL,
    _lang_id_oracle,
    _PIPELINES_YAML,
    _pipeline,
    _lsh_topk_oracle,
    _lsh_multiprobe_oracle,
    _xmla_cube_fixture,
    _IVF_COS_CENT,
    _near_dup_lsh_oracle,
    _TOKS_SQL,
    _cluster_oracle,
    _dedup_e2e_oracle,
    _profile_cols,

)



# ---------------------------------------------------------------------------
# A1 — grouped multi-measure aggregate (the cube's core query shape).
# Reference: 47-measure Store×Date MDX, modules/mdx_queries.py:91-170.
# TPC-H Q1 shape: group by two dims, many measures, NON EMPTY semantics.
# ---------------------------------------------------------------------------
@register(
    "a1_pricing_summary",
    oracle="""
SELECT l_returnflag, l_linestatus,
       CAST(SUM(CAST(l_quantity AS DECIMAL(27,6))) AS DOUBLE) AS sum_qty,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(27,6))) AS DOUBLE) AS sum_base_price,
       CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(14,6)) * CAST(1 - l_discount AS DECIMAL(8,6))) AS DECIMAL(38,6)) AS DOUBLE) AS sum_disc_price,
       CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(14,6)) * CAST(1 - l_discount AS DECIMAL(8,6)) * CAST(1 + l_tax AS DECIMAL(8,6))) AS DECIMAL(38,6)) AS DOUBLE) AS sum_charge,
       CAST(SUM(CAST(l_quantity AS DECIMAL(27,6))) AS DOUBLE) / CAST(COUNT(l_quantity) AS DOUBLE) AS avg_qty,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(27,6))) AS DOUBLE) / CAST(COUNT(l_extendedprice) AS DOUBLE) AS avg_price,
       CAST(SUM(CAST(l_discount AS DECIMAL(27,6))) AS DOUBLE) / CAST(COUNT(l_discount) AS DOUBLE) AS avg_disc,
       COUNT(*) AS count_order
FROM lineitem
WHERE CAST(l_shipdate AS DATE) <= DATE '1998-09-02'
GROUP BY l_returnflag, l_linestatus
""",
)
def a1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pricing summary (decision-support Q1 shape): grouped multi-measure aggregate with exact decimal accumulation."""
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_shipdate").cast("date") <= F.lit("1998-09-02"))
    d6 = lambda c: F.col(c).cast("decimal(27,6)")  # noqa: E731
    # Factor precisions are chosen so every product stays within
    # decimal(38,_) in BOTH Spark and DuckDB — no precision trimming,
    # fully exact, order-independent:
    # (14,6)*(8,6) -> (23,12); *(8,6) -> (32,18).
    money = F.col("l_extendedprice").cast("decimal(14,6)")
    disc_price = money * (F.lit(1) - F.col("l_discount")).cast("decimal(8,6)")
    charge = disc_price * (F.lit(1) + F.col("l_tax")).cast("decimal(8,6)")
    return aggregate.grouped_multi_measure(
        li,
        ["l_returnflag", "l_linestatus"],
        {
            "sum_qty": F.sum(d6("l_quantity")).cast("double"),
            "sum_base_price": F.sum(d6("l_extendedprice")).cast("double"),
            "sum_disc_price": F.sum(disc_price).cast("decimal(38,6)").cast("double"),
            "sum_charge": F.sum(charge).cast("decimal(38,6)").cast("double"),
            "avg_qty": aggregate.exact_avg("l_quantity"),
            "avg_price": aggregate.exact_avg("l_extendedprice"),
            "avg_disc": aggregate.exact_avg("l_discount"),
            "count_order": F.count("*"),
        },
        non_empty=False,
    )


# ---------------------------------------------------------------------------
# A2 — 5-dimension grouped aggregate.
# Reference: Store×Date×Actor×Channel×DayPart MDX, modules/mdx_queries.py:183-207.
# ---------------------------------------------------------------------------
@register(
    "a2_grouped_5dim",
    oracle="""
SELECT o_orderstatus, o_orderpriority,
       CAST(year(o_orderdate) AS BIGINT) AS o_year,
       CAST(month(o_orderdate) AS BIGINT) AS o_month,
       o_custkey % 10 AS cust_bucket,
       COUNT(*) AS n_orders,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(27,6))) AS DOUBLE) AS sum_total
FROM orders
GROUP BY 1, 2, 3, 4, 5
""",
)
def a2_grouped_5dim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Five-dimension grouped aggregate (SURVEY A2 grain)."""
    o = _t(spark, sf_dir, "orders")
    return aggregate.grouped_multi_measure(
        o.withColumn("o_year", F.year("o_orderdate").cast("bigint"))
        .withColumn("o_month", F.month("o_orderdate").cast("bigint"))
        .withColumn("cust_bucket", F.col("o_custkey") % 10),
        ["o_orderstatus", "o_orderpriority", "o_year", "o_month", "cust_bucket"],
        {
            "n_orders": F.count("*"),
            "sum_total": aggregate.exact_sum("o_totalprice"),
        },
        non_empty=False,
    )


# ---------------------------------------------------------------------------
# A3 — post-aggregation ratio measures.
# Reference: Order Accuracy % / Order Mix % cube members, modules/mdx_queries.py:228-232.
# ---------------------------------------------------------------------------
@register(
    "a3_ratio_measures",
    oracle="""
WITH g AS (
  SELECT l_returnflag,
         SUM(CAST(l_extendedprice AS DECIMAL(14,6)) * CAST(l_discount AS DECIMAL(8,6))) AS disc_amt,
         SUM(CAST(l_extendedprice AS DECIMAL(27,6))) AS base,
         COUNT(*) AS n
  FROM lineitem GROUP BY l_returnflag
)
SELECT l_returnflag,
       CAST(CAST(disc_amt AS DECIMAL(38,6)) AS DOUBLE) / CAST(base AS DOUBLE) AS discount_rate,
       CAST(n AS DOUBLE) / CAST((SELECT COUNT(*) FROM lineitem) AS DOUBLE) AS line_mix,
       n AS n_lines
FROM g
""",
)
def a3_ratio_measures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Post-aggregation ratio measures (safe division after the aggregate)."""
    li = _t(spark, sf_dir, "lineitem")
    total = li.count()
    g = li.groupBy("l_returnflag").agg(
        F.sum(
            F.col("l_extendedprice").cast("decimal(14,6)") * F.col("l_discount").cast("decimal(8,6)")
        ).alias("disc_amt"),
        F.sum(F.col("l_extendedprice").cast("decimal(27,6)")).alias("base"),
        F.count("*").alias("n_lines"),
    )
    return g.select(
        "l_returnflag",
        aggregate.ratio(
            F.col("disc_amt").cast("decimal(38,6)").cast("double"), F.col("base").cast("double")
        ).alias("discount_rate"),
        (F.col("n_lines").cast("double") / F.lit(float(total))).alias("line_mix"),
        "n_lines",
    )


# ---------------------------------------------------------------------------
# A4 — year-over-year measures via window lag (cube TY/LY members,
# modules/mdx_queries.py:23-26,113-116).
# ---------------------------------------------------------------------------
@register(
    "a4_yoy_sales",
    oracle="""
WITH yearly AS (
  SELECT n.n_name AS nation,
         CAST(year(o.o_orderdate) AS BIGINT) AS o_year,
         CAST(SUM(CAST(o.o_totalprice AS DECIMAL(27,6))) AS DOUBLE) AS revenue
  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
  JOIN nation n ON c.c_nationkey = n.n_nationkey
  GROUP BY 1, 2
)
SELECT nation, o_year, revenue,
       CASE WHEN lag(o_year) OVER w = o_year - 1 THEN lag(revenue) OVER w END AS ly_revenue
FROM yearly
WINDOW w AS (PARTITION BY nation ORDER BY o_year)
""",
)
def a4_yoy_sales(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Year-over-year sales: this-year vs last-year per group with growth ratio."""
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    yearly = (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .withColumn("o_year", F.year("o_orderdate").cast("bigint"))
        .groupBy(F.col("n_name").alias("nation"), "o_year")
        .agg(aggregate.exact_sum("o_totalprice").alias("revenue"))
    )
    return aggregate.year_over_year(yearly, ["nation"], "o_year", ["revenue"])


# ---------------------------------------------------------------------------
# A5/O3 — union of partial results (per-FY split-and-concat,
# modules/olap_sync.py:111-151).
# ---------------------------------------------------------------------------
@register(
    "a5_union_partials",
    oracle="""
SELECT o_orderstatus, COUNT(*) AS n, CAST(SUM(CAST(o_totalprice AS DECIMAL(27,6))) AS DOUBLE) AS sum_total
FROM orders
WHERE year(o_orderdate) BETWEEN 1995 AND 1998
GROUP BY o_orderstatus
""",
)
def a5_union_partials(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Union of partial aggregates from period slices, re-aggregated to the final grain."""
    o = _t(spark, sf_dir, "orders")
    slices = [o.filter(F.year("o_orderdate") == y) for y in (1995, 1996, 1997, 1998)]
    return (
        aggregate.union_all(slices)
        .groupBy("o_orderstatus")
        .agg(F.count("*").alias("n"), aggregate.exact_sum("o_totalprice").alias("sum_total"))
    )


# ---------------------------------------------------------------------------
# J1 — cross join of dimension domains (the MDX CrossJoin grain),
# densified with observed facts.
# ---------------------------------------------------------------------------
@register(
    "j1_crossjoin_densify",
    oracle="""
WITH grain AS (
  SELECT r.r_name, p.o_orderpriority
  FROM region r CROSS JOIN (SELECT DISTINCT o_orderpriority FROM orders) p
),
fact AS (
  SELECT r.r_name, o.o_orderpriority, COUNT(*) AS n
  FROM orders o
  JOIN customer c ON o.o_custkey = c.c_custkey
  JOIN nation n ON c.c_nationkey = n.n_nationkey
  JOIN region r ON n.n_regionkey = r.r_regionkey
  GROUP BY 1, 2
)
SELECT g.r_name, g.o_orderpriority, COALESCE(f.n, 0) AS n_orders
FROM grain g LEFT JOIN fact f ON g.r_name = f.r_name AND g.o_orderpriority = f.o_orderpriority
""",
)
def j1_crossjoin_densify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grain densify via controlled cross join of small dimension domains."""
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")
    grain = r.select("r_name").crossJoin(o.select("o_orderpriority").distinct())
    fact = (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("r_name", "o_orderpriority")
        .agg(F.count("*").alias("n"))
    )
    return grain.join(fact, ["r_name", "o_orderpriority"], "left").select(
        "r_name", "o_orderpriority", F.coalesce(F.col("n"), F.lit(0)).cast("bigint").alias("n_orders")
    )


# ---------------------------------------------------------------------------
# J2 — broadcast lookup join (dimension-sized existing-keys probe,
# load_store_hours.py:111-138).
# ---------------------------------------------------------------------------
@register(
    "j2_broadcast_lookup",
    oracle="""
SELECT r.r_name AS region, COUNT(*) AS n_customers,
       CAST(SUM(CAST(c.c_acctbal AS DECIMAL(27,6))) AS DOUBLE) AS sum_acctbal
FROM customer c
JOIN nation n ON c.c_nationkey = n.n_nationkey
JOIN region r ON n.n_regionkey = r.r_regionkey
GROUP BY 1
""",
)
def j2_broadcast_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Broadcast dimension lookup with create-vs-update split of incoming rows."""
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")
    return (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy(F.col("r_name").alias("region"))
        .agg(F.count("*").alias("n_customers"), aggregate.exact_sum("c_acctbal").alias("sum_acctbal"))
    )


# ---------------------------------------------------------------------------
# J4/K1 — keyed upsert (PATCH-by-alternate-key semantics,
# modules/dataverse.py:88). Target = history, source = trailing window
# re-sync; result must equal "window rows replace history rows".
# ---------------------------------------------------------------------------
@register(
    "j4_merge_upsert",
    oracle="""
WITH target AS (
  SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders WHERE o_orderdate < DATE '1998-01-01'
),
source AS (
  SELECT o_orderkey, o_orderstatus, CAST(o_totalprice AS DOUBLE) * 1.1 AS o_totalprice
  FROM orders WHERE o_orderdate >= DATE '1997-06-01'
),
merged AS (
  SELECT * FROM target WHERE o_orderkey NOT IN (SELECT o_orderkey FROM source)
  UNION ALL SELECT * FROM source
)
SELECT o_orderstatus, COUNT(*) AS n,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(27,6))) AS DOUBLE) AS sum_total
FROM merged GROUP BY o_orderstatus
""",
)
def j4_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyed MERGE upsert: update matched rows, insert unmatched, one shuffle."""
    o = _t(spark, sf_dir, "orders")
    target = o.filter(F.col("o_orderdate") < "1998-01-01").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    source = o.filter(F.col("o_orderdate") >= "1997-06-01").select(
        "o_orderkey", "o_orderstatus", (F.col("o_totalprice") * 1.1).alias("o_totalprice")
    )
    merged = merge.merge_upsert(target, source, ["o_orderkey"])
    return merged.groupBy("o_orderstatus").agg(
        F.count("*").alias("n"), aggregate.exact_sum("o_totalprice").alias("sum_total")
    )


# ---------------------------------------------------------------------------
# K1-dedup — deterministic last-write-wins per key before upsert
# (SURVEY.md §7.3 "needs care" item b).
# ---------------------------------------------------------------------------
@register(
    "k1_dedupe_latest",
    oracle="""
WITH ranked AS (
  SELECT l_orderkey, l_linenumber, l_quantity, strftime(CAST(l_shipdate AS DATE), '%Y-%m-%d') AS ship_d,
         row_number() OVER (PARTITION BY l_orderkey ORDER BY ship_d DESC, l_linenumber DESC, l_quantity DESC) AS rn
  FROM lineitem
)
SELECT l_orderkey, l_linenumber, ship_d, CAST(l_quantity AS DOUBLE) AS l_quantity
FROM ranked WHERE rn = 1
""",
)
def k1_dedupe_latest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keep-latest dedup per business key (max_by aggregate; total order over all output columns)."""
    li = _t(spark, sf_dir, "lineitem").withColumn(
        "ship_d", F.date_format(F.col("l_shipdate").cast("date"), "yyyy-MM-dd")
    )
    # the synthetic lineitem contains duplicate (orderkey, linenumber)
    # rows — l_quantity joins the ordering so the kept row is total-ordered
    out = merge.dedupe_latest(li, ["l_orderkey"], ["ship_d", "l_linenumber", "l_quantity"], desc=True)
    return out.select("l_orderkey", "l_linenumber", "ship_d", F.col("l_quantity").cast("double").alias("l_quantity"))


# ---------------------------------------------------------------------------
# Comparison twin for k1 (labeled _baseline, excluded from the bench
# wall): the same keep-latest dedup as a row_number window — the plan
# dedupe_latest used through r7. The window must shuffle EVERY row and
# sort each partition; the max_by aggregate partially combines map-side
# so duplicates collapse before the exchange (2.0x at sf10 where
# duplicate keys are scan-adjacent). Same oracle as k1 — the twin
# proves plan equivalence, the bench delta proves the win.
# ---------------------------------------------------------------------------
@register(
    "k1_dedupe_latest_window_baseline",
    oracle="""
WITH ranked AS (
  SELECT l_orderkey, l_linenumber, l_quantity, strftime(CAST(l_shipdate AS DATE), '%Y-%m-%d') AS ship_d,
         row_number() OVER (PARTITION BY l_orderkey ORDER BY ship_d DESC, l_linenumber DESC, l_quantity DESC) AS rn
  FROM lineitem
)
SELECT l_orderkey, l_linenumber, ship_d, CAST(l_quantity AS DOUBLE) AS l_quantity
FROM ranked WHERE rn = 1
""",
)
def k1_dedupe_latest_window_baseline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Window-plan twin of k1_dedupe_latest (the r7 plan), kept as a labeled baseline."""
    li = _t(spark, sf_dir, "lineitem").withColumn(
        "ship_d", F.date_format(F.col("l_shipdate").cast("date"), "yyyy-MM-dd")
    )
    w = Window.partitionBy("l_orderkey").orderBy(
        F.col("ship_d").desc_nulls_last(),
        F.col("l_linenumber").desc_nulls_last(),
        F.col("l_quantity").desc_nulls_last(),
    )
    out = (
        li.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )
    return out.select(
        "l_orderkey", "l_linenumber", "ship_d",
        F.col("l_quantity").cast("double").alias("l_quantity"),
    )


# ---------------------------------------------------------------------------
# K2 — mass delete by key set (full_refresh_fy2023_2025.py:59-167).
# ---------------------------------------------------------------------------
@register(
    "k2_delete_matching",
    oracle="""
SELECT o_orderstatus, COUNT(*) AS n
FROM orders
WHERE o_orderkey NOT IN (SELECT o_orderkey FROM orders WHERE o_custkey % 5 = 0)
GROUP BY o_orderstatus
""",
)
def k2_delete_matching(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mass delete of rows matching a keyed predicate (anti join materialization)."""
    o = _t(spark, sf_dir, "orders")
    doomed = o.filter(F.col("o_custkey") % 5 == 0).select("o_orderkey")
    remaining = merge.delete_matching(o, doomed, ["o_orderkey"])
    return remaining.groupBy("o_orderstatus").agg(F.count("*").alias("n"))


# ---------------------------------------------------------------------------
# K4 — update-only patch of a column subset
# (populate_service_columns.py:236-303).
# ---------------------------------------------------------------------------
@register(
    "k4_merge_update_only",
    oracle="""
WITH source AS (
  SELECT o_orderkey, 'PATCHED' AS o_orderpriority FROM orders WHERE o_custkey % 7 = 0
)
SELECT COALESCE(s.o_orderpriority, o.o_orderpriority) AS o_orderpriority, COUNT(*) AS n
FROM orders o LEFT JOIN source s ON o.o_orderkey = s.o_orderkey
GROUP BY 1
""",
)
def k4_merge_update_only(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyed update-only merge of a column subset; unmatched source rows ignored."""
    o = _t(spark, sf_dir, "orders")
    src = o.filter(F.col("o_custkey") % 7 == 0).select(
        "o_orderkey", F.lit("PATCHED").alias("o_orderpriority")
    )
    patched = merge.merge_update_only(o, src, ["o_orderkey"], ["o_orderpriority"])
    return patched.groupBy("o_orderpriority").agg(F.count("*").alias("n"))


# ---------------------------------------------------------------------------
# P3/P4/P5/C8 — business key + display name derivation
# (modules/transformers.py:50-56, modules/pipeline_runner.py:197-222).
# ---------------------------------------------------------------------------
@register(
    "p3_business_key",
    oracle="""
SELECT o_orderkey,
       CAST(o_custkey AS VARCHAR) || '_' || strftime(CAST(o_orderdate AS DATE), '%Y%m%d') || '_'
         || replace(replace(o_orderpriority, ' ', '_'), '-', '_') AS business_key,
       CAST(o_custkey AS VARCHAR) || ' - ' || strftime(CAST(o_orderdate AS DATE), '%Y%m%d') AS display_name
FROM orders
""",
)
def p3_business_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Business-key derivation from a key template (cleaned, zero-padded components)."""
    o = _t(spark, sf_dir, "orders")
    cust = F.col("o_custkey").cast("string")
    d = keys.key_date(F.col("o_orderdate"))
    prio = keys.clean_key_component(F.col("o_orderpriority"))
    return o.select(
        "o_orderkey",
        keys.business_key(cust, d, prio).alias("business_key"),
        keys.display_name(cust, d).alias("display_name"),
    )


# ---------------------------------------------------------------------------
# F2 + rollup — the cube's 'All' rows: generate them with ROLLUP, then
# discard exactly as the reference does (modules/pipeline_runner.py:159-166).
# Filtering the rollup output must equal the plain aggregate.
# ---------------------------------------------------------------------------
@register(
    "f2_rollup_discard",
    oracle="""
WITH r AS (
  SELECT COALESCE(l_returnflag, 'All') AS l_returnflag,
         COALESCE(l_linestatus, 'All') AS l_linestatus,
         COUNT(*) AS n,
         CAST(SUM(CAST(l_quantity AS DECIMAL(27,6))) AS DOUBLE) AS sum_qty
  FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)
)
SELECT * FROM r WHERE l_returnflag != 'All' AND l_linestatus != 'All'
""",
)
def f2_rollup_discard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Discard 'All'/rollup member rows so only leaf-grain rows remain."""
    li = _t(spark, sf_dir, "lineitem")
    rolled = (
        li.rollup("l_returnflag", "l_linestatus")
        .agg(F.count("*").alias("n"), F.sum(F.col("l_quantity").cast("decimal(27,6)")).cast("double").alias("sum_qty"))
        .select(
            F.coalesce(F.col("l_returnflag"), F.lit("All")).alias("l_returnflag"),
            F.coalesce(F.col("l_linestatus"), F.lit("All")).alias("l_linestatus"),
            "n",
            "sum_qty",
        )
    )
    return aggregate.drop_rollup_rows(rolled, ["l_returnflag", "l_linestatus"])


# ---------------------------------------------------------------------------
# F3 — NON EMPTY: drop grain rows whose measures are all null.
# Nulls injected deterministically so the filter has work to do.
# ---------------------------------------------------------------------------
@register(
    "f3_non_empty",
    oracle="""
WITH g AS (
  SELECT o_custkey,
         SUM(CASE WHEN o_orderstatus = 'F' THEN CAST(o_totalprice AS DECIMAL(27,6)) END) AS f_total,
         SUM(CASE WHEN o_orderstatus = 'O' THEN CAST(o_totalprice AS DECIMAL(27,6)) END) AS o_total
  FROM orders GROUP BY o_custkey
)
SELECT o_custkey, CAST(f_total AS DOUBLE) AS f_total, CAST(o_total AS DOUBLE) AS o_total
FROM g WHERE f_total IS NOT NULL OR o_total IS NOT NULL
""",
)
def f3_non_empty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NON EMPTY semantics: drop rows where every measure is null/zero."""
    o = _t(spark, sf_dir, "orders")
    price = F.col("o_totalprice").cast("decimal(27,6)")
    return aggregate.grouped_multi_measure(
        o,
        ["o_custkey"],
        {
            "f_total": F.sum(F.when(F.col("o_orderstatus") == "F", price)).cast("double"),
            "o_total": F.sum(F.when(F.col("o_orderstatus") == "O", price)).cast("double"),
        },
        non_empty=True,
    )


# ---------------------------------------------------------------------------
# F4/F5 — fiscal-year + 13×28-day fiscal-period slicer
# (modules/olap_sync.py:263-281).
# ---------------------------------------------------------------------------
@register(
    "f5_fiscal_period_slice",
    oracle="""
WITH y AS (
  SELECT o_orderkey, o_totalprice, CAST(o_orderdate AS DATE) AS d,
         CASE WHEN CAST(o_orderdate AS DATE) >= make_date(CAST(year(o_orderdate) AS INT), 2, 1)
              THEN CAST(year(o_orderdate) AS INT)
              ELSE CAST(year(o_orderdate) AS INT) - 1 END AS fyi
  FROM orders
), f AS (
  SELECT o_orderkey, o_totalprice, CAST(fyi AS BIGINT) AS fy,
         CAST(LEAST(date_diff('day', make_date(fyi, 2, 1), d) // 28 + 1, 13) AS BIGINT) AS fp
  FROM y
)
SELECT fy, fp, COUNT(*) AS n, CAST(SUM(CAST(o_totalprice AS DECIMAL(27,6))) AS DOUBLE) AS sum_total
FROM f WHERE fy = 1997 AND fp BETWEEN 2 AND 4
GROUP BY fy, fp
""",
)
def f5_fiscal_period_slice(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F5 with the reference's non-Jan-1 fiscal anchor: the 13-period
    calendar counts from the franchise FY start (here Feb-1,
    reference modules/olap_sync.py:264-274) — Jan dates belong to
    period 12/13 of the PRIOR fiscal year."""
    o = _t(spark, sf_dir, "orders")
    d = F.col("o_orderdate").cast("date")
    fy_start = window_ops.fiscal_year_start(d, 2, 1)
    enriched = o.withColumn(
        "fy", window_ops.fiscal_year_of(d, 2, 1).cast("bigint")
    ).withColumn("fp", window_ops.fiscal_period_of(d, fy_start).cast("bigint"))
    sliced = enriched.filter((F.col("fy") == 1997) & F.col("fp").between(2, 4))
    return sliced.groupBy("fy", "fp").agg(
        F.count("*").alias("n"), aggregate.exact_sum("o_totalprice").alias("sum_total")
    )


# ---------------------------------------------------------------------------
# F6 — trailing N-day window slicer (MyView 81/82,
# modules/mdx_queries.py:13-18), anchored to dataset max for determinism.
# ---------------------------------------------------------------------------
@register(
    "f6_trailing_window",
    oracle="""
SELECT event_type, COUNT(*) AS n,
       CAST(SUM(CAST(value AS DECIMAL(27,6))) AS DOUBLE) AS sum_value
FROM events
WHERE ts::TIMESTAMP >= CAST((SELECT MAX(ts::TIMESTAMP) FROM events) AS DATE) - INTERVAL 14 DAY
GROUP BY event_type
""",
)
def f6_trailing_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing 7/14-day window filter anchored at the data's max date."""
    ev = _t(spark, sf_dir, "events")
    sliced = window_ops.trailing_window(ev, "ts", 14)
    return sliced.groupBy("event_type").agg(
        F.count("*").alias("n"), aggregate.exact_sum("value").alias("sum_value")
    )


# ---------------------------------------------------------------------------
# C2/C3 — dirty-string numeric coercion: comma stripping, null tokens,
# int truncation (modules/transformers.py:63-65, load_csv.py:57-60).
# Dirty inputs are synthesized deterministically from clean columns.
# ---------------------------------------------------------------------------
@register(
    "c2_dirty_coercion",
    oracle="""
WITH dirty AS (
  SELECT o_orderkey,
         CASE WHEN o_orderkey % 7 = 0 THEN '-'
              WHEN o_orderkey % 11 = 0 THEN 'NULL'
              WHEN o_orderkey % 13 = 0 THEN ''
              ELSE '1,234.' || CAST(o_orderkey % 100 AS VARCHAR) END AS amount_raw
  FROM orders
),
coerced AS (
  SELECT o_orderkey,
         CASE WHEN trim(amount_raw) IN ('', '-', 'NULL', 'null', 'N/A', 'n/a') THEN NULL
              ELSE CAST(trunc(CAST(replace(trim(amount_raw), ',', '') AS DOUBLE)) AS INT) END AS amount_int,
         CASE WHEN trim(amount_raw) IN ('', '-', 'NULL', 'null', 'N/A', 'n/a') THEN NULL
              ELSE CAST(replace(trim(amount_raw), ',', '') AS DECIMAL(13,2)) END AS amount_dec
  FROM dirty
)
SELECT COUNT(*) AS n_rows, COUNT(amount_int) AS n_valid,
       CAST(SUM(CAST(amount_int AS BIGINT)) AS BIGINT) AS sum_int,
       CAST(SUM(amount_dec) AS DOUBLE) AS sum_dec
FROM coerced
""",
)
def c2_dirty_coercion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dirty-value integer coercion: comma strip, truncation parity, null tokens."""
    o = _t(spark, sf_dir, "orders")
    k = F.col("o_orderkey")
    dirty = o.select(
        "o_orderkey",
        F.when(k % 7 == 0, "-")
        .when(k % 11 == 0, "NULL")
        .when(k % 13 == 0, "")
        .otherwise(F.concat(F.lit("1,234."), (k % 100).cast("string")))
        .alias("amount_raw"),
    )
    coerced = dirty.select(
        "o_orderkey",
        coercion.to_int_truncating(F.col("amount_raw")).alias("amount_int"),
        coercion.to_decimal(F.col("amount_raw")).alias("amount_dec"),
    )
    return coerced.agg(
        F.count("*").alias("n_rows"),
        F.count("amount_int").alias("n_valid"),
        F.sum(F.col("amount_int").cast("bigint")).alias("sum_int"),
        F.sum("amount_dec").cast("double").alias("sum_dec"),
    )


# ---------------------------------------------------------------------------
# C4/C6 — multi-format date parsing with date-only semantics
# (load_csv.py:46-51, modules/pipeline_runner.py:89-100). Raw strings in
# three formats (plus T-suffix noise) are synthesized from o_orderdate;
# parsing must round-trip exactly.
# ---------------------------------------------------------------------------
@register(
    "c6_multiformat_dates",
    oracle=r"""
WITH raw AS (
  SELECT o_orderkey,
         CASE WHEN o_orderkey % 4 = 0 THEN strftime(CAST(o_orderdate AS DATE), '%Y-%m-%d')
              WHEN o_orderkey % 4 = 1 THEN strftime(CAST(o_orderdate AS DATE), '%-m/%-d/%Y')
              WHEN o_orderkey % 4 = 2 AND year(o_orderdate) >= 2000 THEN strftime(CAST(o_orderdate AS DATE), '%-m/%-d/%y')
              WHEN o_orderkey % 4 = 2 THEN strftime(CAST(o_orderdate AS DATE), '%-m/%-d/%Y')
              ELSE strftime(CAST(o_orderdate AS DATE), '%Y-%m-%d') || 'T00:00:00' END AS date_raw,
         CAST(o_orderdate AS DATE) AS expected
  FROM orders
),
parsed AS (
  SELECT o_orderkey, expected,
         (CASE WHEN regexp_matches(regexp_replace(date_raw, 'T.*$', ''), '^\d{4}-\d{2}-\d{2}$')
                 THEN try_strptime(regexp_replace(date_raw, 'T.*$', ''), '%Y-%m-%d')
               WHEN regexp_matches(regexp_replace(date_raw, 'T.*$', ''), '^\d{1,2}/\d{1,2}/\d{4}$')
                 THEN try_strptime(regexp_replace(date_raw, 'T.*$', ''), '%m/%d/%Y')
               WHEN regexp_matches(regexp_replace(date_raw, 'T.*$', ''), '^\d{1,2}/\d{1,2}/\d{2}$')
                 THEN try_strptime(regexp_replace(date_raw, 'T.*$', ''), '%m/%d/%y')
          END)::DATE AS parsed_date
  FROM raw
)
SELECT CAST(year(parsed_date) AS BIGINT) AS y, COUNT(*) AS n,
       CAST(SUM(CASE WHEN parsed_date = expected THEN 1 ELSE 0 END) AS BIGINT) AS n_roundtrip
FROM parsed GROUP BY 1
""",
)
def c6_multiformat_dates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-format date-only parsing to a canonical date."""
    o = _t(spark, sf_dir, "orders")
    k = F.col("o_orderkey")
    d = F.col("o_orderdate").cast("date")
    raw = o.select(
        "o_orderkey",
        F.when(k % 4 == 0, F.date_format(d, "yyyy-MM-dd"))
        .when(k % 4 == 1, F.date_format(d, "M/d/yyyy"))
        .when((k % 4 == 2) & (F.year(d) >= 2000), F.date_format(d, "M/d/yy"))
        .when(k % 4 == 2, F.date_format(d, "M/d/yyyy"))
        .otherwise(F.concat(F.date_format(d, "yyyy-MM-dd"), F.lit("T00:00:00")))
        .alias("date_raw"),
        d.alias("expected"),
    )
    parsed = raw.select(
        "o_orderkey",
        "expected",
        coercion.to_date_multiformat(F.col("date_raw")).alias("parsed_date"),
    )
    return (
        parsed.groupBy(F.year("parsed_date").cast("bigint").alias("y"))
        .agg(
            F.count("*").alias("n"),
            F.sum(F.when(F.col("parsed_date") == F.col("expected"), 1).otherwise(0)).alias(
                "n_roundtrip"
            ),
        )
    )


# ---------------------------------------------------------------------------
# C10 — day-part bucketing (config.production.json labor day_parts).
# ---------------------------------------------------------------------------
@register(
    "c10_day_part",
    oracle="""
SELECT CASE WHEN hour(ts::TIMESTAMP) >= 8 AND hour(ts::TIMESTAMP) < 10 THEN 'Morning'
            WHEN hour(ts::TIMESTAMP) >= 10 AND hour(ts::TIMESTAMP) < 14 THEN 'Lunch'
            WHEN hour(ts::TIMESTAMP) >= 14 AND hour(ts::TIMESTAMP) < 17 THEN 'Afternoon'
            WHEN hour(ts::TIMESTAMP) >= 17 AND hour(ts::TIMESTAMP) < 21 THEN 'Dinner'
            WHEN hour(ts::TIMESTAMP) >= 21 THEN 'Evening'
            ELSE 'Late Night' END AS day_part,
       COUNT(*) AS n,
       CAST(SUM(CAST(value AS DECIMAL(27,6))) AS DOUBLE) AS sum_value
FROM events GROUP BY 1
""",
)
def c10_day_part(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-part bucketing of timestamps (morning/afternoon/evening/night)."""
    ev = _t(spark, sf_dir, "events")
    return (
        ev.withColumn("day_part", coercion.day_part(F.hour("ts")))
        .groupBy("day_part")
        .agg(F.count("*").alias("n"), aggregate.exact_sum("value").alias("sum_value"))
    )


# ---------------------------------------------------------------------------
# O2-style ranking — top-K per group (window row_number; the reference
# has only paging, SURVEY.md §2.6 — top-k is table stakes for an engine).
# ---------------------------------------------------------------------------
@register(
    "o2_top_k_per_group",
    oracle="""
WITH ranked AS (
  SELECT o_orderpriority, o_orderkey, CAST(o_totalprice AS DOUBLE) AS o_totalprice,
         row_number() OVER (PARTITION BY o_orderpriority ORDER BY o_totalprice DESC, o_orderkey ASC) AS rk
  FROM orders
)
SELECT o_orderpriority, o_orderkey, o_totalprice, CAST(rk AS BIGINT) AS rk
FROM ranked WHERE rk <= 3
""",
)
def o2_top_k_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k rows per group via ranked window with unique-key tie-break."""
    o = _t(spark, sf_dir, "orders")
    ranked = window_ops.top_k_per_group(
        o, ["o_orderpriority"], [F.col("o_totalprice").desc(), F.col("o_orderkey").asc()], 3
    )
    return ranked.select(
        "o_orderpriority",
        "o_orderkey",
        F.col("o_totalprice").cast("double").alias("o_totalprice"),
        F.col("rk").cast("bigint").alias("rk"),
    )


# ---------------------------------------------------------------------------
# Sessionization — gap-based sessions over the event stream.
# ---------------------------------------------------------------------------
@register(
    "sessionize_events",
    oracle="""
WITH g AS (
  SELECT user_id,
         CASE WHEN lag(ts::TIMESTAMP) OVER w IS NULL
                   OR date_diff('second', lag(ts::TIMESTAMP) OVER w, ts::TIMESTAMP) > 1800
              THEN 1 ELSE 0 END AS is_new
  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts::TIMESTAMP, event_id)
)
SELECT user_id, SUM(is_new)::BIGINT AS n_sessions FROM g GROUP BY user_id
""",
)
def sessionize_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch sessionization: gap-based session ids per user (window lag + cumulative sum)."""
    ev = _t(spark, sf_dir, "events")
    sess = window_ops.sessionize(ev, "user_id", "ts", gap_minutes=30)
    return sess.groupBy("user_id").agg(F.max("session_seq").cast("bigint").alias("n_sessions"))


# ---------------------------------------------------------------------------
# O8 — native session_window aggregation: Spark's built-in session
# windows (dynamic-gap tumbling) as the JVM-side twin of the custom
# applyInPandasWithState sessionizer above. One shuffle on user_id,
# session merge inside the aggregate; the oracle derives identical
# sessions via the lag/island construction. window.end is defined as
# last_event + gap by the built-in; the oracle mirrors that. The gap
# test compares the exact interval: the built-in merges an event into
# the session while ts <= last_event + gap (a gap of exactly 30 minutes
# continues it), at microsecond precision — a whole-second date_diff
# would merge a 1800.5 s gap the built-in splits.
# ---------------------------------------------------------------------------
@register(
    "o8_session_window_native",
    oracle="""
WITH g AS (
  SELECT user_id, ts::TIMESTAMP AS ts, value,
         CASE WHEN lag(ts::TIMESTAMP) OVER w IS NULL
                   OR ts::TIMESTAMP > lag(ts::TIMESTAMP) OVER w + INTERVAL 30 MINUTE
              THEN 1 ELSE 0 END AS is_new
  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts::TIMESTAMP, event_id)
),
s AS (
  SELECT user_id, ts, value,
         SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts
                           ROWS UNBOUNDED PRECEDING) AS sess
  FROM g
)
SELECT user_id,
       strftime(MIN(ts), '%Y-%m-%d %H:%M:%S.%f') AS session_start,
       strftime(MAX(ts) + INTERVAL 30 MINUTE, '%Y-%m-%d %H:%M:%S.%f') AS session_end,
       COUNT(*) AS n_events,
       CAST(CAST(SUM(CAST(value AS DECIMAL(27,6))) AS DECIMAL(38,6)) AS DOUBLE) AS sum_value
FROM s GROUP BY user_id, sess
""",
)
def o8_session_window_native(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session windows via native session_window aggregation (gap-based)."""
    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy("user_id", F.session_window("ts", "30 minutes").alias("w"))
        .agg(
            F.count("*").cast("bigint").alias("n_events"),
            F.sum(F.col("value").cast("decimal(27,6)"))
            .cast("decimal(38,6)")
            .cast("double")
            .alias("sum_value"),
        )
        .select(
            "user_id",
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("session_start"),
            F.date_format("w.end", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("session_end"),
            "n_events",
            "sum_value",
        )
    )


# ---------------------------------------------------------------------------
# C5 — datetime coercion: naive wall-clock strings parsed as UTC
# instants and rendered in the reference's ISO ...Z wire format
# (modules/pipeline_runner.py:114-128).
# ---------------------------------------------------------------------------
@register(
    "c5_datetime_iso",
    oracle="""
SELECT event_id, strftime(ts::TIMESTAMP, '%Y-%m-%dT%H:%M:%SZ') AS iso_z
FROM events
""",
)
def c5_datetime_iso(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Datetime to UTC ISO-8601 Z-instant coercion."""
    ev = _t(spark, sf_dir, "events")
    raw = ev.select("event_id", F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("raw"))
    return raw.select(
        "event_id", coercion.format_iso_z(coercion.to_utc_instant(F.col("raw"))).alias("iso_z")
    )


# ---------------------------------------------------------------------------
# C7 — loose time encodings normalized to HH:MM
# (load_store_hours.py:33-61). Four dirty encodings are synthesized
# from event timestamps; normalization must recover lpad(h):lpad(m).
# ---------------------------------------------------------------------------
@register(
    "c7_time_hhmm",
    oracle="""
SELECT event_id,
       lpad(CAST(hour(ts::TIMESTAMP) AS VARCHAR), 2, '0') || ':'
         || lpad(CAST(minute(ts::TIMESTAMP) AS VARCHAR), 2, '0') AS hhmm
FROM events
""",
)
def c7_time_hhmm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Loose time-string coercion to HH:MM."""
    ev = _t(spark, sf_dir, "events")
    k = F.col("event_id")
    h, m = F.hour("ts"), F.minute("ts")
    hh = F.lpad(h.cast("string"), 2, "0")
    mm = F.lpad(m.cast("string"), 2, "0")
    raw = ev.select(
        "event_id",
        F.when(k % 4 == 0, (h * 100 + m).cast("string"))  # 930, 2305
        .when(k % 4 == 1, F.concat(h.cast("string"), F.lit(":"), mm))  # 9:30
        .when(k % 4 == 2, F.concat(hh, F.lit(":"), mm, F.lit(":00")))  # 09:30:00
        .otherwise(F.concat(hh, F.lit(":"), mm))  # 09:30
        .alias("raw"),
    )
    return raw.select("event_id", coercion.time_to_hhmm(F.col("raw")).alias("hhmm"))


# ---------------------------------------------------------------------------
# Semi-structured columns: JSON property extraction (events.props) —
# the engine's path for typed access into JSON payload columns.
# ---------------------------------------------------------------------------
@register(
    "json_props_extract",
    oracle="""
SELECT event_type,
       COUNT(*) AS n,
       CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
       CAST(MAX(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS max_k
FROM events
GROUP BY event_type
""",
)
def json_props_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON property extraction from a nested properties column into typed fields."""
    ev = _t(spark, sf_dir, "events")
    k = F.get_json_object(F.col("props"), "$.k").cast("bigint")
    return ev.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.sum(k).alias("sum_k"),
        F.max(k).alias("max_k"),
    )


# ---------------------------------------------------------------------------
# P8 — pivot: order counts reshaped to one column per status (the
# XMLA COO pivot's user-facing cousin). Oracle uses portable
# conditional aggregation.
# ---------------------------------------------------------------------------
@register(
    "p8_pivot_status",
    oracle="""
SELECT o_orderpriority,
       CAST(SUM(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS status_f,
       CAST(SUM(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END) AS BIGINT) AS status_o,
       CAST(SUM(CASE WHEN o_orderstatus = 'P' THEN 1 ELSE 0 END) AS BIGINT) AS status_p
FROM orders GROUP BY 1
""",
)
def p8_pivot_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot: order counts per customer segment pivoted by order status."""
    o = _t(spark, sf_dir, "orders")
    pivoted = (
        o.groupBy("o_orderpriority")
        .pivot("o_orderstatus", ["F", "O", "P"])
        .agg(F.count(F.lit(1)))
    )
    return pivoted.select(
        "o_orderpriority",
        F.coalesce(F.col("F"), F.lit(0)).cast("bigint").alias("status_f"),
        F.coalesce(F.col("O"), F.lit(0)).cast("bigint").alias("status_o"),
        F.coalesce(F.col("P"), F.lit(0)).cast("bigint").alias("status_p"),
    )


# ---------------------------------------------------------------------------
# Variant JSON extraction (round 5): the Spark-4 parse-once path.
# get_json_object re-parses the JSON string per extraction — N fields =
# N parses of every row, which at 100 TB is the difference between one
# scan and N. try_parse_json parses ONCE into a binary variant;
# variant_get then navigates the parsed tree per field, and malformed
# documents become NULL variants instead of task failures (every 13th
# synthesized doc here is deliberately broken). Nested path included
# so the navigation is exercised beyond top level.
# ---------------------------------------------------------------------------
@register(
    "json_variant_extract",
    oracle="""
WITH raw AS (
  SELECT event_id, event_type,
         CASE WHEN event_id % 13 = 0 THEN '{broken'
              ELSE '{"k": ' || CAST(event_id % 100 AS VARCHAR)
                || ', "tags": {"src": "' || event_type || '"}'
                || ', "score": ' || CAST((event_id % 7) * 0.5 AS VARCHAR) || '}'
         END AS doc
  FROM events
),
parsed AS (
  SELECT event_type,
         CASE WHEN json_valid(doc) THEN CAST(json_extract_string(doc, '$.k') AS BIGINT) END AS k,
         CASE WHEN json_valid(doc) THEN json_extract_string(doc, '$.tags.src') END AS src,
         CASE WHEN json_valid(doc) THEN CAST(json_extract_string(doc, '$.score') AS DOUBLE) END AS score,
         json_valid(doc) AS ok
  FROM raw
)
SELECT event_type,
       COUNT(*) AS n,
       CAST(SUM(CASE WHEN ok THEN 0 ELSE 1 END) AS BIGINT) AS n_corrupt,
       CAST(SUM(k) AS BIGINT) AS sum_k,
       MAX(src) AS max_src,
       CAST(SUM(score) AS DOUBLE) AS sum_score
FROM parsed GROUP BY 1
""",
)
def json_variant_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured JSON extraction into typed columns (nested path + array element access)."""
    ev = _t(spark, sf_dir, "events").select("event_id", "event_type")
    doc = F.when(F.col("event_id") % 13 == 0, F.lit("{broken")).otherwise(
        F.concat(
            F.lit('{"k": '),
            (F.col("event_id") % 100).cast("string"),
            F.lit(', "tags": {"src": "'),
            F.col("event_type"),
            F.lit('"}, "score": '),
            ((F.col("event_id") % 7) * 0.5).cast("string"),
            F.lit("}"),
        )
    )
    v = ev.select("event_type", F.try_parse_json(doc).alias("v"))  # parse ONCE
    return v.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.sum(F.when(F.col("v").isNull(), 1).otherwise(0)).cast("bigint").alias("n_corrupt"),
        F.sum(F.variant_get(F.col("v"), "$.k", "bigint")).cast("bigint").alias("sum_k"),
        F.max(F.variant_get(F.col("v"), "$.tags.src", "string")).alias("max_src"),
        F.sum(F.variant_get(F.col("v"), "$.score", "double")).alias("sum_score"),
    )


# ---------------------------------------------------------------------------
# Salted two-phase aggregation under REAL key skew (VERDICT r6 #9).
# Fixture: a deterministic geometric (zipf-like) key over lineitem —
# bucket b holds a 2^-(b+1) share of the corpus, so skew_key=0 owns
# half of every row (the one-straggler-task shape AQE does not re-split
# for aggregations). The engine runs operators/aggregate.
# salted_aggregate (pre-aggregate at (key, salt) grain, combine per
# key); the ORACLE is the plain one-phase GROUP BY — so a hash match
# IS the salted-vs-plain equivalence proof, including the exact-decimal
# discipline surviving the extra combine step. The salt itself is
# F.rand-based and never observable in the output (the determinism
# sweep runs this under local[4]/5 and local[16]/64).
# ---------------------------------------------------------------------------
@register(
    "salted_skew_aggregate",
    oracle="""
WITH s AS (
  SELECT CASE WHEN m >= 512 THEN 0 WHEN m >= 256 THEN 1 WHEN m >= 128 THEN 2
              WHEN m >= 64 THEN 3 WHEN m >= 32 THEN 4 WHEN m >= 16 THEN 5
              WHEN m >= 8 THEN 6 WHEN m >= 4 THEN 7 WHEN m >= 2 THEN 8
              ELSE 9 END AS skew_key,
         l_quantity, l_extendedprice
  FROM (SELECT l_orderkey % 1024 AS m, l_quantity, l_extendedprice FROM lineitem)
)
SELECT CAST(skew_key AS INT) AS skew_key,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(CAST(l_quantity AS DECIMAL(27,6))) AS DOUBLE) AS sum_qty,
       CAST(MIN(l_extendedprice) AS DOUBLE) AS min_price,
       CAST(MAX(l_extendedprice) AS DOUBLE) AS max_price
FROM s GROUP BY 1
""",
)
def salted_skew_aggregate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Salted two-phase aggregate on a zipf-skewed key; oracle is the plain GROUP BY (equivalence gate)."""
    li = _t(spark, sf_dir, "lineitem").select(
        (F.col("l_orderkey") % 1024).alias("m"), "l_quantity", "l_extendedprice"
    )
    key = (
        F.when(F.col("m") >= 512, 0).when(F.col("m") >= 256, 1)
        .when(F.col("m") >= 128, 2).when(F.col("m") >= 64, 3)
        .when(F.col("m") >= 32, 4).when(F.col("m") >= 16, 5)
        .when(F.col("m") >= 8, 6).when(F.col("m") >= 4, 7)
        .when(F.col("m") >= 2, 8).otherwise(9)
    )
    skewed = li.select(
        key.cast("int").alias("skew_key"), "l_quantity", "l_extendedprice"
    )
    out = aggregate.salted_aggregate(
        skewed,
        ["skew_key"],
        {
            "n": (F.count(F.lit(1)), "sum"),
            "sum_qty": (F.sum(F.col("l_quantity").cast("decimal(27,6)")), "sum"),
            "min_price": (F.min("l_extendedprice"), "min"),
            "max_price": (F.max("l_extendedprice"), "max"),
        },
    )
    return out.select(
        "skew_key",
        F.col("n").cast("bigint").alias("n"),
        F.col("sum_qty").cast("double").alias("sum_qty"),
        F.col("min_price").cast("double").alias("min_price"),
        F.col("max_price").cast("double").alias("max_price"),
    )


# ---------------------------------------------------------------------------
# Cost-gated advisor entry point (VERDICT r8 #4): at oracle SF the
# lineitem scan is far under advised_aggregate's 64 MB gate, so the
# production entry point must FALL THROUGH to the plain one-phase
# GROUP BY — this gate value-proves that path against the same plain
# oracle (the engaged path is value-proven by skew_advisor_salted_e2e,
# and the cost-gate pytest proves both branches agree on one input).
# ---------------------------------------------------------------------------
@register(
    "skew_agg_cost_gated",
    oracle="""
WITH s AS (
  SELECT CASE WHEN m >= 512 THEN 0 WHEN m >= 256 THEN 1 WHEN m >= 128 THEN 2
              WHEN m >= 64 THEN 3 WHEN m >= 32 THEN 4 WHEN m >= 16 THEN 5
              WHEN m >= 8 THEN 6 WHEN m >= 4 THEN 7 WHEN m >= 2 THEN 8
              ELSE 9 END AS skew_key,
         l_quantity, l_extendedprice
  FROM (SELECT l_orderkey % 1024 AS m, l_quantity, l_extendedprice FROM lineitem)
)
SELECT CAST(skew_key AS INT) AS skew_key,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(CAST(l_quantity AS DECIMAL(27,6))) AS DOUBLE) AS sum_qty,
       CAST(MIN(l_extendedprice) AS DOUBLE) AS min_price,
       CAST(MAX(l_extendedprice) AS DOUBLE) AS max_price
FROM s GROUP BY 1
""",
)
def skew_agg_cost_gated(spark: SparkSession, sf_dir: str) -> DataFrame:
    """advised_aggregate under the input-size gate: small inputs take the plain one-phase plan; same values either way."""
    li = _t(spark, sf_dir, "lineitem").select(
        (F.col("l_orderkey") % 1024).alias("m"), "l_quantity", "l_extendedprice"
    )
    key = (
        F.when(F.col("m") >= 512, 0).when(F.col("m") >= 256, 1)
        .when(F.col("m") >= 128, 2).when(F.col("m") >= 64, 3)
        .when(F.col("m") >= 32, 4).when(F.col("m") >= 16, 5)
        .when(F.col("m") >= 8, 6).when(F.col("m") >= 4, 7)
        .when(F.col("m") >= 2, 8).otherwise(9)
    )
    skewed = li.select(
        key.cast("int").alias("skew_key"), "l_quantity", "l_extendedprice"
    )
    out = aggregate.advised_aggregate(
        skewed,
        ["skew_key"],
        {
            "n": (F.count(F.lit(1)), "sum"),
            "sum_qty": (F.sum(F.col("l_quantity").cast("decimal(27,6)")), "sum"),
            "min_price": (F.min("l_extendedprice"), "min"),
            "max_price": (F.max("l_extendedprice"), "max"),
        },
    )
    return out.select(
        "skew_key",
        F.col("n").cast("bigint").alias("n"),
        F.col("sum_qty").cast("double").alias("sum_qty"),
        F.col("min_price").cast("double").alias("min_price"),
        F.col("max_price").cast("double").alias("max_price"),
    )


# ---------------------------------------------------------------------------
# Sketch → advisor → salted plan, end-to-end (VERDICT r7 #6). The r7
# round gated the pieces separately (heavy_hitters_sketch pins the
# sketch, salted_skew_aggregate pins salted == plain); this gate runs
# the full production composition as ONE query: per-batch SpaceSaving
# sketches over the skewed key, merged corpus-wide, hot_keys advises
# which keys exceed a 20% share (bounded driver traffic: ≤ k advised
# rows plus the merge's two scalar anchors), and the aggregation plan
# is then HYBRID — advised-hot keys go through the salted two-phase
# aggregate, the long tail through the plain one-phase GROUP BY, and
# the two unions into one result. The DuckDB oracle recomputes both
# the aggregate AND the advised flag from first principles (true
# per-key share vs the threshold) — the sketch's k=32 covers all 10
# keys of the fixture, so its estimates are exact and the advisor must
# agree with the true shares bit-for-bit.
# ---------------------------------------------------------------------------
@register(
    "skew_advisor_salted_e2e",
    oracle="""
WITH s AS (
  SELECT CASE WHEN m >= 512 THEN 0 WHEN m >= 256 THEN 1 WHEN m >= 128 THEN 2
              WHEN m >= 64 THEN 3 WHEN m >= 32 THEN 4 WHEN m >= 16 THEN 5
              WHEN m >= 8 THEN 6 WHEN m >= 4 THEN 7 WHEN m >= 2 THEN 8
              ELSE 9 END AS skew_key,
         l_quantity, l_extendedprice
  FROM (SELECT l_orderkey % 1024 AS m, l_quantity, l_extendedprice FROM lineitem)
),
agg AS (
  SELECT skew_key,
         COUNT(*) AS n,
         SUM(CAST(l_quantity AS DECIMAL(27,6))) AS sum_qty,
         MIN(l_extendedprice) AS min_price,
         MAX(l_extendedprice) AS max_price
  FROM s GROUP BY 1
)
SELECT CAST(skew_key AS INT) AS skew_key,
       CAST(n AS BIGINT) AS n,
       CAST(sum_qty AS DOUBLE) AS sum_qty,
       CAST(min_price AS DOUBLE) AS min_price,
       CAST(max_price AS DOUBLE) AS max_price,
       CAST(n AS DOUBLE) / (SELECT SUM(n) FROM agg) >= 0.2 AS advised
FROM agg
""",
)
def skew_advisor_salted_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch → hot_keys advisor → hybrid salted/plain aggregate in one plan; oracle recomputes values AND the advised flag."""
    from bw_new_data_integration_spark.operators import sketch

    li = _t(spark, sf_dir, "lineitem").select(
        (F.col("l_orderkey") % 1024).alias("m"),
        (F.col("l_linenumber") % 4).alias("batch"),
        "l_quantity",
        "l_extendedprice",
    )
    key = (
        F.when(F.col("m") >= 512, 0).when(F.col("m") >= 256, 1)
        .when(F.col("m") >= 128, 2).when(F.col("m") >= 64, 3)
        .when(F.col("m") >= 32, 4).when(F.col("m") >= 16, 5)
        .when(F.col("m") >= 8, 6).when(F.col("m") >= 4, 7)
        .when(F.col("m") >= 2, 8).otherwise(9)
    )
    skewed = li.select(
        key.cast("int").alias("skew_key"),
        "batch",
        "l_quantity",
        "l_extendedprice",
    ).localCheckpoint(eager=True)  # reused: sketch pass + both agg branches

    # advisor: per-batch sketches (k covers the whole key domain, so
    # estimates are exact), merged corpus-wide, thresholded at 20%
    per_batch = sketch.topk_sketch_build(skewed, "batch", "skew_key", k=32)
    merged = sketch.topk_sketch_merge(per_batch, None, k=32)
    advised = sketch.hot_keys(merged, min_share=0.2)
    hot_set = sorted(int(r["key"]) for r in advised.collect())  # ≤ k rows

    measures = {
        "n": (F.count(F.lit(1)), "sum"),
        "sum_qty": (F.sum(F.col("l_quantity").cast("decimal(27,6)")), "sum"),
        "min_price": (F.min("l_extendedprice"), "min"),
        "max_price": (F.max("l_extendedprice"), "max"),
    }
    # ONE pass: advised keys are salted, the tail keeps salt 0 — the
    # hybrid plan is a single two-phase aggregate, not two branch scans
    out = aggregate.salted_aggregate(
        skewed, ["skew_key"], measures,
        hot_only=F.col("skew_key").isin(hot_set),
    )
    return out.select(
        "skew_key",
        F.col("n").cast("bigint").alias("n"),
        F.col("sum_qty").cast("double").alias("sum_qty"),
        F.col("min_price").cast("double").alias("min_price"),
        F.col("max_price").cast("double").alias("max_price"),
        F.col("skew_key").isin(hot_set).alias("advised"),
    )
