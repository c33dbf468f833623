"""Schema learning + persistence (reference: src/truthound/schema.py).

``learn()`` infers the full column profile in ONE wide aggregate select
(reference schema.py:244-277: pl.len, per-column null_count/n_unique,
numeric min/max/mean/std/q25/q50/q75, string min/max length) plus a second
bounded pass for allowed_values on low-cardinality columns
(schema.py:341-363). Spark: same two jobs — df.agg(*everything) then a
collect_set pass gated by the observed cardinality.
"""

from __future__ import annotations

import json
from dataclasses import asdict, dataclass, field
from typing import Any

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from truthound_spark.core.base import NUMERIC_TYPES, STRING_TYPES

MAX_ALLOWED_VALUES = 20  # reference schema.py:341 low-cardinality cutoff


@dataclass
class ColumnSchema:
    """Persisted per-column profile (reference: schema.py:18-98)."""

    name: str
    dtype: str
    nullable: bool = True
    unique: bool = False
    min_value: Any = None
    max_value: Any = None
    allowed_values: list[Any] | None = None
    min_length: int | None = None
    max_length: int | None = None
    null_ratio: float = 0.0
    unique_ratio: float = 0.0
    mean: float | None = None
    std: float | None = None
    quantiles: dict[str, float] | None = None


@dataclass
class Schema:
    """Learned table schema (reference: schema.py:101-172)."""

    columns: dict[str, ColumnSchema] = field(default_factory=dict)
    row_count: int = 0

    def to_dict(self) -> dict[str, Any]:
        return {
            "row_count": self.row_count,
            "columns": {k: asdict(v) for k, v in self.columns.items()},
        }

    def to_json(self, indent: int = 2) -> str:
        return json.dumps(self.to_dict(), indent=indent, default=str)

    def save(self, path: str) -> None:
        with open(path, "w") as f:
            f.write(self.to_json())

    @classmethod
    def load(cls, path: str) -> "Schema":
        with open(path) as f:
            d = json.load(f)
        cols = {k: ColumnSchema(**v) for k, v in d["columns"].items()}
        return cls(columns=cols, row_count=d["row_count"])


def _learn_aggs(fields, approx_distinct: bool):
    """The per-column agg lists behind :func:`learn`, with the
    percentile sketches SPLIT into their own list (see ``learn``'s
    docstring for the §7.2 codegen rationale; the split mirrors
    ``profiler.table_profiler._stat_aggs`` and is pinned by the same
    plan-shape test pattern).

    Returns ``(aggs, pct_aggs, numeric, string)``."""
    aggs: list = [F.count(F.lit(1)).alias("__n")]
    pct_aggs: list = []
    numeric = set()
    string = set()
    nu_of = (
        (lambda c: F.approx_count_distinct(F.col(c), 0.01))
        if approx_distinct
        else (lambda c: F.countDistinct(F.col(c)))
    )
    import pyspark.sql.types as T

    for f_ in fields:
        c = f_.name
        aggs.append(F.count(F.col(c)).alias(f"{c}__nn"))
        if isinstance(f_.dataType, T.MapType):
            # MapType is not orderable/hashable for countDistinct/min/max —
            # record null stats only and skip the value profile
            aggs.append(F.lit(None).cast("long").alias(f"{c}__nu"))
            continue
        aggs.append(nu_of(c).alias(f"{c}__nu"))
        if isinstance(f_.dataType, NUMERIC_TYPES):
            numeric.add(c)
            aggs.extend(
                [
                    F.min(c).alias(f"{c}__min"),
                    F.max(c).alias(f"{c}__max"),
                    F.mean(c).alias(f"{c}__mean"),
                    F.stddev(c).alias(f"{c}__std"),
                ]
            )
            pct_aggs.append(
                F.expr(
                    f"percentile_approx(`{c}`, array(0.25, 0.5, 0.75), 10000)"
                ).alias(f"{c}__q")
            )
        elif isinstance(f_.dataType, STRING_TYPES):
            string.add(c)
            aggs.extend(
                [
                    F.min(F.length(F.col(c))).alias(f"{c}__minlen"),
                    F.max(F.length(F.col(c))).alias(f"{c}__maxlen"),
                ]
            )
        else:
            aggs.extend([F.min(c).alias(f"{c}__min"), F.max(c).alias(f"{c}__max")])
    return aggs, pct_aggs, numeric, string


def learn(df: DataFrame, approx_distinct: bool = False) -> Schema:
    """Schema learning in two aggregate jobs (reference: schema.py:244-277).

    Scale notes (100 TB): quantiles use ``percentile_approx`` (t-digest-like
    sketch, bounded memory per partition) rather than exact ``percentile``
    (which buffers every value). Each exact ``countDistinct`` adds a
    projection to Spark's Expand operator — one duplicated row-stream per
    column — so at cluster scale pass ``approx_distinct=True`` to use HLL
    ``approx_count_distinct`` (regular agg, no Expand); the ``unique`` flag
    then means "distinct count within HLL error of row count" and the
    auto-suite should confirm with an exact UniqueValidator on flagged
    columns before enforcing.

    The percentile sketches run as a SECOND, narrow aggregate (r15 —
    guide §1.2/§7.2, the same split ``profiler.table_profiler._stat_aggs``
    got in r14): ``percentile_approx`` is a TypedImperativeAggregate, and
    fusing one into the wide agg plans the WHOLE job as
    ObjectHashAggregateExec — no whole-stage codegen for any of the
    min/max/mean/std/count aggregates, and with countDistinct in the mix
    the planner adds SortAggregate levels over the Expand. Splitting
    keeps the wide job fully codegen'd. The values are the same
    aggregate expressions over the same rows, but not bit-identical to
    the fused form: the split mean runs in HashAggregate and the fused
    one in ObjectHashAggregate, which can differ in the last ulp.

    Snapshot caveat: the two jobs each read ``df``. On a source that can
    change between them (files rewritten, an unpersisted random sample)
    the quantiles may come from a different snapshot than min/max/mean/
    row_count; persist or checkpoint the input when they must agree.
    """
    aggs, pct_aggs, numeric, string = _learn_aggs(df.schema.fields, approx_distinct)
    row = df.agg(*aggs).collect()[0].asDict()
    if pct_aggs:
        # second, narrow aggregate for the percentile sketches only — see
        # the docstring for why fusing them would de-codegen the wide job
        row.update(df.agg(*pct_aggs).collect()[0].asDict())
    n = int(row["__n"])

    schema = Schema(row_count=n)
    low_card: list[str] = []
    for f_ in df.schema.fields:
        c = f_.name
        nn = int(row[f"{c}__nn"] or 0)
        nu = int(row[f"{c}__nu"] or 0)
        cs = ColumnSchema(
            name=c,
            dtype=f_.dataType.simpleString(),
            nullable=(n - nn) > 0,
            unique=(
                (nu >= nn * 0.99 and nn > 0)
                if approx_distinct
                else (nu == nn and nn > 0)
            ),
            null_ratio=round((n - nn) / n, 6) if n else 0.0,
            unique_ratio=round(nu / nn, 6) if nn else 0.0,
        )
        if c in numeric:
            q = row.get(f"{c}__q")
            cs.min_value = row.get(f"{c}__min")
            cs.max_value = row.get(f"{c}__max")
            cs.mean = row.get(f"{c}__mean")
            cs.std = row.get(f"{c}__std")
            if q:
                cs.quantiles = {"q25": q[0], "q50": q[1], "q75": q[2]}
        elif c in string:
            cs.min_length = row.get(f"{c}__minlen")
            cs.max_length = row.get(f"{c}__maxlen")
        else:
            cs.min_value = row.get(f"{c}__min")
            cs.max_value = row.get(f"{c}__max")
        if 0 < nu <= MAX_ALLOWED_VALUES:
            low_card.append(c)
        schema.columns[c] = cs

    if low_card:  # second bounded pass (reference schema.py:341-363)
        sets = df.agg(
            *[F.sort_array(F.collect_set(F.col(c))).alias(c) for c in low_card]
        ).collect()[0]
        for c in low_card:
            schema.columns[c].allowed_values = list(sets[c])
    return schema


def validate_against(df: DataFrame, schema: Schema) -> list[dict[str, Any]]:
    """Structural schema match (reference: schema validator in
    local-schema.json workload): missing/extra columns, dtype changes."""
    problems = []
    actual = {f.name: f.dataType.simpleString() for f in df.schema.fields}
    for name, cs in schema.columns.items():
        if name not in actual:
            problems.append({"column": name, "problem": "missing_column", "expected": cs.dtype})
        elif actual[name] != cs.dtype:
            problems.append(
                {"column": name, "problem": "dtype_mismatch", "expected": cs.dtype, "actual": actual[name]}
            )
    for name in actual:
        if name not in schema.columns:
            problems.append({"column": name, "problem": "unexpected_column", "actual": actual[name]})
    return problems
