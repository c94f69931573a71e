"""Keyed upsert / merge operators (SURVEY.md §2.5 J2-J4, §2.8 K1-K4).

The reference's sink is ``PATCH table(alternate_key='v')`` — update if
the key exists, insert otherwise — batched 400/request over 6 threads
(reference ``modules/dataverse.py:40-220``). Its within-batch
last-write-wins is nondeterministic under the thread pool; here merge
is a **deterministic** DataFrame operation:

1. source is deduplicated per key by an explicit ordering
   (``dedupe_latest``) — defined last-write-wins,
2. target rows whose key appears in source are replaced, others kept,
   new keys appended (``merge_upsert``).

Without Delta on the classpath (v1 image), this is the classic
"emulate MERGE with anti-join + union" pattern; the shuffle is on the
business key, broadcast-joined automatically when the source is small
(incremental trailing window into a large target). With Delta/Iceberg
available the same API routes to ``MERGE INTO``.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def dedupe_latest(
    df: DataFrame, keys: Sequence[str], order_by: Sequence[str], desc: bool = True
) -> DataFrame:
    """Deterministic last-write-wins per key: keep the first row per
    key under ``order_by`` (descending by default = latest wins).
    Callers make the kept row well-defined by passing an ``order_by``
    that is total per key (the k1 gate orders by every output column).

    The ``desc`` path (the production shape) is a ``max_by`` AGGREGATE,
    not a window: a window must shuffle EVERY row and sort each
    partition, while max_by partially aggregates map-side — duplicates
    collapse before the exchange, the shuffle carries at most one row
    per (key, map partition), and no sort runs at all (r8: 1.5× on the
    k1 headline at sf10, where duplicate keys are scan-adjacent).
    Semantics are identical to the previous window: struct comparison
    orders fields left-to-right with nulls smallest, so ``max_by`` on
    ``struct(order_by)`` never prefers a null — exactly
    ``desc_nulls_last``. The ascending variant keeps the window plan
    (``min_by`` would PREFER nulls, which asc_nulls_last must not).
    """
    if not desc:
        ordering = [F.col(c).asc_nulls_last() for c in order_by]
        w = Window.partitionBy(*keys).orderBy(*ordering)
        return (
            df.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .drop("__rn")
        )
    keys = list(keys)
    payload = [c for c in df.columns if c not in keys]
    if not payload:
        return df.dropDuplicates(keys)
    row = df.groupBy(*keys).agg(
        F.max_by(
            F.struct(*[F.col(c) for c in payload]),
            F.struct(*[F.col(c) for c in order_by]),
        ).alias("__r")
    )
    return row.select(
        *keys, *[F.col("__r")[c].alias(c) for c in payload]
    ).select(*df.columns)


def key_join(
    left: DataFrame,
    right: DataFrame,
    keys: Sequence[str],
    how: str,
    null_safe: Sequence[str] = (),
) -> DataFrame:
    """``left.join(right, keys, how)`` with the ``null_safe`` key
    columns matched by ``<=>`` instead of ``=`` (a null there matches a
    null). Output columns are those of the USING join: each key column
    once, from ``left``, then ``left``'s and ``right``'s other columns.
    Without ``null_safe`` this IS the USING join."""
    if not null_safe:
        return left.join(right, on=list(keys), how=how)
    # rename right's key columns: a join condition over same-named
    # columns of two frames of one lineage would resolve ambiguously
    renamed = {c: f"__r_{c}" for c in keys}
    r = right.withColumnsRenamed(renamed)
    cond = None
    for c in keys:
        term = (
            F.col(c).eqNullSafe(F.col(renamed[c]))
            if c in null_safe
            else F.col(c) == F.col(renamed[c])
        )
        cond = term if cond is None else cond & term
    out = left.join(r, cond, how)
    if how in ("left_anti", "left_semi"):  # output is left's columns only
        return out
    return out.drop(*renamed.values())


def merge_upsert(
    target: DataFrame,
    source: DataFrame,
    keys: Sequence[str],
    evolve_schema: bool = False,
    null_safe: Sequence[str] = (),
) -> DataFrame:
    """Upsert: rows of ``target`` whose key is absent from ``source``,
    plus all of ``source`` (J4 / K1).

    ``source`` must be unique per key (apply ``dedupe_latest`` first if
    not). Anti-join + union — equivalent to
    ``MERGE INTO t USING s ON keys WHEN MATCHED UPDATE * WHEN NOT
    MATCHED INSERT *``. Idempotent: merging the same source twice
    yields the same result.

    ``evolve_schema=True`` is the K5 schema-evolution path (the
    reference adds columns / widens decimals via metadata scripts,
    ``dataverse_table_creation/add_*_columns.py``,
    ``update_offers_decimal_ranges.py``): columns new in ``source`` are
    added to the table (null for untouched rows), columns missing from
    ``source`` are kept (null for upserted rows) — the ``mergeSchema``
    behavior of Delta/parquet.

    ``null_safe``: key columns matched by ``<=>`` (see ``key_join``).
    """
    kept = key_join(target, source.select(*keys).distinct(), keys, "left_anti", null_safe)
    # a USING-column join moves the join keys to the front; restore the
    # TARGET's column order so repeated merges are column-order-stable
    # (a keyed table's schema must not depend on which commit path last
    # rewrote a file)
    if evolve_schema:
        added = [c for c in source.columns if c not in target.columns]
        return kept.unionByName(source, allowMissingColumns=True).select(
            *target.columns, *added
        )
    return kept.unionByName(source.select(*target.columns)).select(*target.columns)


def merge_update_only(
    target: DataFrame, source: DataFrame, keys: Sequence[str], update_cols: Sequence[str]
) -> DataFrame:
    """Update a subset of columns for matching keys; never insert (K4,
    reference ``populate_service_columns.py:236-303``).

    Equivalent to ``MERGE ... WHEN MATCHED THEN UPDATE SET <subset>``.
    """
    src = source.select(*keys, *[F.col(c).alias(f"__src_{c}") for c in update_cols])
    joined = target.join(src, on=list(keys), how="left")
    out = joined
    for c in update_cols:
        out = out.withColumn(c, F.coalesce(F.col(f"__src_{c}"), F.col(c)))
    return out.drop(*[f"__src_{c}" for c in update_cols])


def split_create_update(
    source: DataFrame, existing_keys: DataFrame, keys: Sequence[str]
) -> tuple[DataFrame, DataFrame]:
    """Create-vs-update partitioning against an existing key set (J2,
    reference ``load_store_hours.py:157-192``): returns
    ``(to_create, to_update)``. ``existing_keys`` is dimension-sized —
    Catalyst broadcasts it; no shuffle of the big side.
    """
    ek = F.broadcast(existing_keys.select(*keys).distinct())
    to_update = source.join(ek, on=list(keys), how="left_semi")
    to_create = source.join(ek, on=list(keys), how="left_anti")
    return to_create, to_update


def delete_matching(
    target: DataFrame,
    keys_to_delete: DataFrame,
    keys: Sequence[str],
    null_safe: Sequence[str] = (),
) -> DataFrame:
    """Mass delete by key set (K2) as an anti-join. Column order is
    restored after the USING join (which fronts the keys) so rewritten
    files keep the table's schema order. ``null_safe``: key columns
    matched by ``<=>`` (see ``key_join``)."""
    return key_join(
        target, keys_to_delete.select(*keys).distinct(), keys, "left_anti", null_safe
    ).select(*target.columns)


def scd2_merge(
    dim: DataFrame,
    updates: DataFrame,
    keys: Sequence[str],
    compare_cols: Sequence[str],
    effective_col: str,
    valid_from: str = "valid_from",
    valid_to: str = "valid_to",
    current_col: str = "is_current",
) -> DataFrame:
    """Slowly-changing-dimension Type 2 merge.

    The reference's upsert (K1/J4) overwrites attribute history; SCD2
    preserves it: when a tracked attribute changes, the current row is
    closed (``valid_to`` = the update's effective timestamp,
    ``is_current`` = false) and a new current version is appended.
    Unchanged keys and history rows pass through untouched; keys new to
    the dimension insert as current.

    ``updates`` must be unique per key (``dedupe_latest`` first).
    Change detection is null-safe (``<=>``) over ``compare_cols``.
    All joins are equi-joins on ``keys``: one shuffle of the dimension,
    and the updates side is typically incremental-batch-sized, so AQE
    broadcasts it.
    """
    cur = dim.filter(F.col(current_col))
    hist = dim.filter(~F.col(current_col))
    src = updates.select(
        *keys,
        *[F.col(c).alias(f"__s_{c}") for c in compare_cols],
        F.col(effective_col).alias("__eff"),
    )
    joined = cur.join(src, on=list(keys), how="left")
    changed = F.lit(False)
    for c in compare_cols:
        changed = changed | ~F.col(c).eqNullSafe(F.col(f"__s_{c}"))
    matched_changed = F.col("__eff").isNotNull() & changed
    out_cols = dim.columns

    unchanged = joined.filter(~matched_changed).select(*out_cols)
    closed = (
        joined.filter(matched_changed)
        .withColumn(valid_to, F.col("__eff"))
        .withColumn(current_col, F.lit(False))
        .select(*out_cols)
    )
    new_versions = (
        joined.filter(matched_changed)
        .select(
            *keys,
            *[F.col(f"__s_{c}").alias(c) for c in compare_cols],
            F.col("__eff").alias(valid_from),
        )
        .withColumn(valid_to, F.lit(None).cast(dim.schema[valid_to].dataType))
        .withColumn(current_col, F.lit(True))
        .select(*out_cols)
    )
    brand_new = (
        updates.join(dim.select(*keys).distinct(), on=list(keys), how="left_anti")
        .select(
            *keys,
            *compare_cols,
            F.col(effective_col).alias(valid_from),
        )
        .withColumn(valid_to, F.lit(None).cast(dim.schema[valid_to].dataType))
        .withColumn(current_col, F.lit(True))
        .select(*out_cols)
    )
    return hist.unionByName(unchanged).unionByName(closed).unionByName(new_versions).unionByName(brand_new)


def point_in_time_lookup(
    facts: DataFrame,
    dim: DataFrame,
    keys: Sequence[str],
    ts_col: str,
    valid_from: str = "valid_from",
    valid_to: str = "valid_to",
) -> DataFrame:
    """Join each fact to the dimension version valid AT the fact's
    timestamp (the query side of SCD2: ``valid_from <= ts < valid_to``,
    open-ended current rows included).

    Plan shape: an equi-join on ``keys`` with the validity range as a
    residual predicate — one shuffle on the key, no interval blow-up,
    because SCD2 versions of one key are few and non-overlapping (each
    fact matches exactly one version). This is the standard
    point-in-time dimension enrichment a fact pipeline runs against a
    history-preserving dimension.
    """
    cond = None
    for k in keys:
        c = facts[k] == dim[k]
        cond = c if cond is None else cond & c
    cond = (
        cond
        & (dim[valid_from] <= facts[ts_col])
        & (dim[valid_to].isNull() | (facts[ts_col] < dim[valid_to]))
    )
    out = facts.join(dim, cond)
    # the dimension's copies of the join keys would shadow the facts'
    # (same names -> ambiguous-reference on any downstream select);
    # keep only the facts' side
    for k in keys:
        out = out.drop(dim[k])
    return out
