"""YAML pipeline compiler: the reference's config surface, compiled to
a Catalyst plan.

The reference declares pipelines in ``pipelines/pipelines.yaml`` (one
entry per dataset: source catalog + MDX + mapping path) and per-target
column mappings in ``pipelines/mappings/*.yaml`` (``table``,
``alternate_key``, ``business_key.format``, ``fields``, ``measures``
with a 5-type vocabulary) — reference ``modules/pipeline_config.py:10-79``
and ``modules/pipeline_runner.py:81-229``. "Add a new pipeline = YAML
only, no code" is the workflow contract (``docs/ADD_NEW_PIPELINE.md``).

This module keeps that surface nearly verbatim but compiles it into a
single lazy DataFrame plan instead of row loops:

- type coercion  -> ``Column.cast`` family (functions/coercion.py)
- business key   -> ``concat_ws`` + ``date_format`` from the SAME
  ``{Field}`` / ``{Field:%Y%m%d}`` template syntax the reference uses
- 'All'-row + required-key + NON-EMPTY filters -> ``.filter``
- aggregation (the part the cube used to do) -> ``groupBy().agg()``

So one pipeline = scan → slice → aggregate → coerce/rename → key →
filters → sink, all visible to Catalyst as one plan: filters reach the
parquet scan, the aggregate is partial+final hash agg, the key concat
is codegen'd.
"""

from __future__ import annotations

import datetime
import re
from dataclasses import dataclass, field

import yaml
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from bw_new_data_integration_spark.functions import coercion, keys

#: the reference's type vocabulary (modules/pipeline_runner.py:81-130)
#: plus ``double`` — an engine extension for computed measures, which
#: the reference kept as cube-typed decimals.
TYPES = ("string", "int", "decimal", "date", "datetime", "double")


@dataclass(frozen=True)
class FieldSpec:
    source: str  # column in the source frame
    target: str  # output column name ("dataverse" name in the reference)
    type: str = "string"
    default: object | None = None

    def expr(self, input_type: T.DataType | None = None) -> Column:
        """Coercion expression, specialized on the input's Spark type.

        The dirty-string vocabulary (null tokens, comma grouping,
        multi-format dates) only applies to STRING inputs; a column
        that is already typed takes a plain cast — same values, none
        of the regex/try-parse machinery in the hot path. (The
        truncation parity holds: Spark's numeric->int cast truncates
        toward zero exactly like the reference's ``int(float(x))``.)
        """
        c = F.col(self.source)
        typed = input_type is not None and not isinstance(input_type, T.StringType)
        temporal = isinstance(input_type, (T.DateType, T.TimestampType, T.TimestampNTZType))
        if self.type == "string":
            out = c.cast("string") if typed else coercion.to_clean_string(c)
        elif self.type == "int":
            out = c.cast("int") if typed else coercion.to_int_truncating(c)
        elif self.type == "decimal":
            out = c.cast("decimal(13,2)") if typed else coercion.to_decimal(c)
        elif self.type == "date":
            out = c.cast("date") if temporal else coercion.to_date_multiformat(c)
        elif self.type == "datetime":
            out = c.cast("timestamp") if temporal else coercion.to_utc_instant(c)
        elif self.type == "double":
            out = c.try_cast("double")
        else:  # pragma: no cover - validated at load
            raise ValueError(f"unknown type {self.type!r}")
        if self.default is not None:
            out = F.coalesce(out, F.lit(self.default))
        return out.alias(self.target)


@dataclass(frozen=True)
class AggSpec:
    """The aggregation the reference pushed into the cube (MDX
    CrossJoin grain): dims = output_name -> source col, measures =
    output_name -> {expr, agg}."""

    dims: dict[str, str] = field(default_factory=dict)
    measures: dict[str, dict] = field(default_factory=dict)

    _AGGS = {
        "sum": F.sum,
        "min": F.min,
        "max": F.max,
        "count": F.count,
    }

    def apply(self, df: DataFrame) -> DataFrame:
        # dims may be bare columns or SQL expressions (e.g.
        # ``CAST(ts AS DATE)`` for a calendar grain over a timestamp)
        dim_cols = [F.expr(src).alias(name) for name, src in self.dims.items()]
        aggs = []
        for name, spec in self.measures.items():
            agg_name = spec.get("agg", "sum")
            raw = spec.get("expr", name)
            if agg_name == "count" and raw == "*":
                aggs.append(F.count(F.lit(1)).alias(name))
                continue
            if agg_name == "avg":
                # decimal-sum / non-null-count, NULL on empty — the
                # exact decomposition the maintained path stores
                # (operators/matview.py), so batch and served outputs
                # are bit-equal (a plain F.avg over doubles is not
                # deterministic under partial-aggregation order)
                expr = F.expr(raw)
                s = F.sum(expr.cast("decimal(27,6)")).cast("double")
                n = F.count(expr).cast("double")
                aggs.append(F.when(n > 0, s / n).alias(name))
                continue
            if agg_name == "ratio":
                # {agg: ratio, num: expr, den: expr} — the cube's
                # calculated-member shape (Order Accuracy % etc.,
                # reference modules/mdx_queries.py:228-232): SUM(num) /
                # SUM(den), NULL on zero denominator, decimal sums
                # divided as doubles (matview ratio parity)
                num = F.sum(F.expr(spec["num"]).cast("decimal(27,6)")).cast("double")
                den = F.sum(F.expr(spec["den"]).cast("decimal(27,6)")).cast("double")
                aggs.append(F.when(den != 0, num / den).alias(name))
                continue
            expr = F.expr(raw)
            if agg_name == "sum":
                # decimal accumulation: deterministic under any
                # partial-aggregation order (see operators/aggregate.py)
                aggs.append(F.sum(expr.cast("decimal(27,6)")).cast("double").alias(name))
            else:
                aggs.append(self._AGGS[agg_name](expr).alias(name))
        return df.groupBy(*dim_cols).agg(*aggs)


@dataclass(frozen=True)
class MappingSpec:
    table: str
    alternate_key: str
    business_key_format: str | None
    fields: tuple[FieldSpec, ...]
    measures: tuple[FieldSpec, ...]


@dataclass(frozen=True)
class PipelineSpec:
    name: str
    source_table: str
    mapping: MappingSpec
    aggregate: AggSpec | None = None
    slicer_column: str | None = None
    drop_all_rows: bool = True  # F2: discard cube rollup rows
    non_empty: bool = True  # F3: drop all-null-measure rows
    # 13-4 fiscal calendar anchor (month, day) — the reference cube's
    # FY start is a property of the cube, not Jan-1
    # (modules/olap_sync.py:264-274); YAML key ``fy_start: "MM-DD"``
    fy_start: tuple[int, int] = (1, 1)
    # MDX template for cube-sourced backfills (``${var}`` placeholders,
    # usually ``${slicer}``), rendered per slice and handed to the
    # executor-side XMLA fetch — restores the reference's "new cube
    # backfill = YAML only" workflow (pipelines.yaml ``source.mdx``,
    # reference modules/pipeline_config.py:12-34). None for pipelines
    # fed from parquet/CSV.
    mdx: str | None = None
    catalog: str | None = None
    # cube-source parse config (runner --from-cube): regex hierarchy ->
    # output-field mappings (S6, sources/xmla.HierarchyMapper) and the
    # MDX measure caption -> output field pairs (the response axis
    # carries captions like "[Measures].[Net Sales]"; the mapping
    # addresses engine field names)
    hierarchies: tuple[dict, ...] = ()
    cube_measures: tuple[tuple[str, str], ...] = ()

    def render_mdx(self, variables: dict[str, object] | None = None) -> str:
        if self.mdx is None:
            raise ValueError(f"pipeline {self.name!r} has no MDX template")
        return render_mdx_template(self.mdx, variables)

    def backfill_mdx(self, slicers: dict[str, str]) -> dict[str, str]:
        """Per-slice MDX for ``xmla.fetch_partitioned*``: render the
        template once per slice with ``${slicer}`` bound — the
        reference's backfill loop (modules/olap_sync.py:246-339),
        minus the hand-formatting."""
        return {name: self.render_mdx({"slicer": s}) for name, s in slicers.items()}


def render_mdx_template(mdx: str, variables: dict[str, object] | None = None) -> str:
    """``${var}``-only substitution into an MDX template (reference
    ``modules/pipeline_config.py:20-34``): MDX is full of literal
    ``{...}`` sets, so ``str.format``-style braces would force heavy
    escaping in YAML — only the ``${var}`` spelling is substituted,
    every other brace passes through untouched."""
    if not variables:
        return mdx
    rendered = mdx
    for key, value in variables.items():
        rendered = rendered.replace(f"${{{key}}}", str(value))
    return rendered


# --- loading ---------------------------------------------------------------


def _field_specs(items: list[dict]) -> tuple[FieldSpec, ...]:
    out = []
    for item in items:
        typ = item.get("type", "string")
        if typ not in TYPES:
            raise ValueError(f"unknown type {typ!r} (allowed: {TYPES})")
        out.append(
            FieldSpec(
                source=item["source"],
                target=item.get("target", item["source"]),
                type=typ,
                default=item.get("default"),
            )
        )
    return tuple(out)


def load_mapping(path: str) -> MappingSpec:
    with open(path) as f:
        doc = yaml.safe_load(f)
    bk = doc.get("business_key") or {}
    return MappingSpec(
        table=doc["table"],
        alternate_key=doc.get("alternate_key", "business_key"),
        business_key_format=bk.get("format"),
        fields=_field_specs(doc.get("fields", [])),
        measures=_field_specs(doc.get("measures", [])),
    )


def load_pipelines(path: str) -> dict[str, PipelineSpec]:
    import os

    with open(path) as f:
        doc = yaml.safe_load(f)
    base = os.path.dirname(os.path.abspath(path))
    specs: dict[str, PipelineSpec] = {}
    for name, p in doc["pipelines"].items():
        agg = None
        if "aggregate" in p:
            agg = AggSpec(dims=p["aggregate"].get("dims", {}), measures=p["aggregate"].get("measures", {}))
        specs[name] = PipelineSpec(
            name=name,
            source_table=p["source"]["table"],
            mapping=load_mapping(os.path.join(base, p["mapping"])),
            aggregate=agg,
            slicer_column=p.get("slicer_column"),
            drop_all_rows=p.get("drop_all_rows", True),
            non_empty=p.get("non_empty", True),
            fy_start=parse_fy_start(p.get("fy_start")),
            mdx=(p["source"].get("mdx") or "").strip("\n") or None,
            catalog=p["source"].get("catalog"),
            hierarchies=tuple(dict(h) for h in p["source"].get("hierarchies", [])),
            cube_measures=tuple(
                (str(k), str(v)) for k, v in p["source"].get("cube_measures", {}).items()
            ),
        )
    return specs


def parse_fy_start(raw: object) -> tuple[int, int]:
    """Parse a fiscal-year anchor: ``"MM-DD"`` string, ``[m, d]``
    pair, or None (Jan-1)."""
    if raw is None:
        return (1, 1)
    if isinstance(raw, str):
        m, d = raw.split("-")
        raw = (int(m), int(d))
    m, d = int(raw[0]), int(raw[1])
    if not (1 <= m <= 12 and 1 <= d <= 28):
        raise ValueError(f"fy_start out of range: {(m, d)} (day must be 1-28)")
    return (m, d)


# --- business-key template compiler ---------------------------------------

_TOKEN = re.compile(r"\{([A-Za-z_][A-Za-z0-9_]*)(?::(%[^}]+))?\}|([^{}]+)")

_STRFTIME_TO_SPARK = {
    "%Y%m%d": "yyyyMMdd",
    "%Y-%m-%d": "yyyy-MM-dd",
}


def compile_key_template(template: str) -> Column:
    """``"{Store}_{Date:%Y%m%d}_{Channel}"`` -> concat of cleaned
    components — the reference's format-string key builder
    (``modules/transformers.py:50-56``) as one codegen'd expression.

    Literal separators between tokens are preserved; date tokens use
    ``date_format``; non-date tokens get key-component cleaning
    (space/hyphen -> underscore, null -> 'Unknown').
    """
    parts: list[Column] = []
    for m in _TOKEN.finditer(template):
        name, fmt, literal = m.group(1), m.group(2), m.group(3)
        if literal is not None:
            parts.append(F.lit(literal))
        elif fmt:
            spark_fmt = _STRFTIME_TO_SPARK.get(fmt)
            if spark_fmt is None:
                raise ValueError(f"unsupported date format {fmt!r} in key template")
            parts.append(F.date_format(F.col(name).cast("date"), spark_fmt))
        else:
            parts.append(keys.clean_key_component(F.col(name)))
    return F.concat(*parts)


def key_validity_condition(template: str) -> Column | None:
    """The F1/F7 required-key filter, reduced to its cheap equivalent.

    The assembled key can only be NULL or empty through a NULL *date*
    token: literal separators are non-empty, and non-date components go
    through ``keys.clean_key_component`` which maps NULL/'' to
    'Unknown'. So ``key IS NOT NULL AND length(key) > 0`` is exactly
    ``every date token casts to a non-null date`` — a per-row null
    check Catalyst pushes to the parquet scan, instead of the full
    regex+concat key expression evaluated below the aggregate (where
    filter pushdown would otherwise place it: at 100 TB that is a
    regex over every scanned row for a filter that rarely drops any).
    Returns None when the template has no date tokens (filter is a
    tautology).
    """
    conds: list[Column] = []
    for m in _TOKEN.finditer(template):
        name, fmt = m.group(1), m.group(2)
        if name is not None and fmt:
            conds.append(F.col(name).cast("date").isNotNull())
    if not conds:
        return None
    out = conds[0]
    for c in conds[1:]:
        out = out & c
    return out


# --- plan builder ----------------------------------------------------------


def build_plan(
    df: DataFrame,
    spec: PipelineSpec,
    slicer: Column | None = None,
    audit_ts: bool = False,
) -> DataFrame:
    """Compile one pipeline run into a lazy DataFrame.

    Order mirrors the reference lifecycle (SURVEY.md §3.1): slice at
    the source (pushdown) → aggregate (the cube's job) → 'All' filter →
    coerce/rename → business key → required-key filter → NON EMPTY.
    """
    out = df
    if slicer is not None:
        out = out.filter(slicer)
    if spec.aggregate is not None:
        out = spec.aggregate.apply(out)
    return finish_plan(out, spec, audit_ts=audit_ts)


def finish_plan(
    out: DataFrame, spec: PipelineSpec, audit_ts: bool = False
) -> DataFrame:
    """The post-aggregate pipeline stages ('All' filter → coerce/rename
    → business key → required-key filter → NON EMPTY), applicable to
    any frame at the pipeline's aggregate grain — what lets an
    incrementally-maintained rollup (plans/matview_pipeline.py) serve
    the same pipeline output without re-aggregating the source."""
    mapping = spec.mapping
    dtypes = {f.name: f.dataType for f in out.schema.fields}
    if spec.drop_all_rows:
        # only a string dimension can carry the cube's literal 'All'
        # rollup marker — typed columns skip the filter entirely
        for fs in mapping.fields:
            if isinstance(dtypes.get(fs.source), T.StringType):
                out = out.filter(F.col(fs.source) != "All")

    cols = [fs.expr(dtypes.get(fs.source)) for fs in mapping.fields] + [
        ms.expr(dtypes.get(ms.source)) for ms in mapping.measures
    ]
    projected = out.select(*cols)

    if mapping.business_key_format:
        projected = projected.withColumn(
            mapping.alternate_key, compile_key_template(mapping.business_key_format)
        )
        # F1/F7: rows must have a complete, non-empty key — applied in
        # its reduced form (null-date-token check) so the pushed-down
        # predicate is an isnotnull at the scan, not the key expression
        validity = key_validity_condition(mapping.business_key_format)
        if validity is not None:
            projected = projected.filter(validity)

    if spec.non_empty and mapping.measures:
        cond = None
        for ms in mapping.measures:
            c = F.col(ms.target).isNotNull()
            cond = c if cond is None else (cond | c)
        projected = projected.filter(cond)

    if audit_ts:
        # P6: crf63_lastrefreshed audit column. One driver-side instant
        # taken when the plan is built, as a timestamp literal: Spark
        # fixes current_timestamp() per query EXECUTION, so a plan run
        # twice (a change_feed commit writes the snapshot, then stages
        # its change events) would stamp the table and its change feed
        # with different values
        now = datetime.datetime.now(datetime.timezone.utc)
        projected = projected.withColumn("last_refreshed", F.lit(now))
    return projected


def run_pipeline(
    spark: SparkSession,
    specs: dict[str, PipelineSpec],
    name: str,
    sf_dir: str,
    slicer: Column | None = None,
) -> DataFrame:
    from bw_new_data_integration_spark import catalog

    spec = specs[name]
    df = catalog.load(spark, sf_dir, spec.source_table)
    return build_plan(df, spec, slicer=slicer)
