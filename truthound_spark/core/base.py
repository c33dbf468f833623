"""Validator base classes and the ExpressionSpec compilation contract.

The reference compiles every check to a ``ValidationExpressionSpec``
(reference: src/truthound/validators/base.py:1769-1819) whose aggregate
expressions are fused into ONE ``lf.select(...).collect()`` per batch
(base.py:1961-1973, ExpressionBatchExecutor base.py:2309-2471).

Spark-first translation: each spec carries aggregate ``pyspark.sql.Column``
expressions; the executor unions all specs of a suite into a single
``df.agg(*aliased)`` job so Catalyst/Tungsten evaluate the whole suite in
one pass over the data (one scan, whole-stage codegen, map-side partial
aggregation). Evidence (sample failing values/rows) is format-gated into
separate ``filter+limit`` jobs (reference phases 2-4, base.py:2004-2015).
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Any, Callable

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from truthound_spark.core.results import ValidationIssue
from truthound_spark.types import (
    SEVERITY_RATIO_THRESHOLDS,
    Severity,
    ValidationDetail,
    severity_from_ratio,
)

# ---------------------------------------------------------------------------
# Type gates (reference: validators/base.py:885-895 NUMERIC/STRING/DATETIME
# type sets). Unsigned Polars ints have no Spark equivalent — widened to the
# next signed type by any ingesting adapter (SURVEY §1.2).
# ---------------------------------------------------------------------------
NUMERIC_TYPES: tuple[type, ...] = (
    T.ByteType,
    T.ShortType,
    T.IntegerType,
    T.LongType,
    T.FloatType,
    T.DoubleType,
    T.DecimalType,
)
FLOAT_TYPES: tuple[type, ...] = (T.FloatType, T.DoubleType)
STRING_TYPES: tuple[type, ...] = (T.StringType,)
DATETIME_TYPES: tuple[type, ...] = (
    T.DateType,
    T.TimestampType,
    T.TimestampNTZType,
    T.DayTimeIntervalType,
)


def columns_of_type(df: DataFrame, types: tuple[type, ...]) -> list[str]:
    return [f.name for f in df.schema.fields if isinstance(f.dataType, types)]


@dataclass
class ExpressionSpec:
    """One check compiled to Spark aggregate expressions.

    Mirrors reference ValidationExpressionSpec (base.py:1769-1819):
      * ``count_expr``    — aggregate counting violations (phase 1)
      * ``non_null_expr`` — denominator aggregate (defaults to row count)
      * ``filter_expr``   — row-level violation predicate (phases 2-4)
      * ``extra_exprs``   — named observation aggregates (min/max/mean/...)
      * ``judge``         — optional driver-side verdict on collected metrics
        for checks whose pass/fail is a scalar comparison (e.g. mean between)
        rather than a violation count.
    """

    name: str
    issue_type: str
    column: str | None
    count_expr: Column | None = None
    non_null_expr: Column | None = None
    filter_expr: Column | None = None
    extra_exprs: dict[str, Column] = field(default_factory=dict)
    expected: Any = None
    details_template: str = ""
    severity_ratio_thresholds: tuple[tuple[float, Severity], ...] = (
        SEVERITY_RATIO_THRESHOLDS
    )
    fixed_severity: Severity | None = None
    # judge(metrics) -> (success, actual, details) where metrics holds
    # {"count", "denom", **extra}; None means use count>0 rule.
    judge: Callable[[dict[str, Any]], tuple[bool, Any, str]] | None = None

    def agg_columns(self, prefix: str) -> list[Column]:
        """Aliased aggregate columns contributed to the fused suite agg."""
        cols: list[Column] = []
        if self.count_expr is not None:
            cols.append(self.count_expr.cast("long").alias(f"{prefix}__count"))
        if self.non_null_expr is not None:
            cols.append(self.non_null_expr.cast("long").alias(f"{prefix}__denom"))
        for key, expr in self.extra_exprs.items():
            cols.append(expr.alias(f"{prefix}__x__{key}"))
        return cols

    def metrics_from_row(self, prefix: str, row: dict[str, Any]) -> dict[str, Any]:
        m: dict[str, Any] = {
            "count": row.get(f"{prefix}__count"),
            "denom": row.get(f"{prefix}__denom"),
        }
        for key in self.extra_exprs:
            m[key] = row.get(f"{prefix}__x__{key}")
        return m

    def evaluate(self, metrics: dict[str, Any], row_count: int) -> ValidationIssue | None:
        """Phase-1 verdict from collected metrics. None == check passed."""
        denom = metrics.get("denom")
        if denom is None:
            denom = row_count
        if self.judge is not None:
            success, actual, details = self.judge(metrics)
            if success:
                return None
            sev = self.fixed_severity or Severity.MEDIUM
            return ValidationIssue(
                column=self.column,
                issue_type=self.issue_type,
                count=int(metrics.get("count") or 0),
                severity=sev,
                validator_name=self.name,
                expected=self.expected,
                actual=actual,
                details=details,
            )
        count = int(metrics.get("count") or 0)
        if count <= 0:
            return None
        ratio = (count / denom) if denom else 0.0
        sev = self.fixed_severity or severity_from_ratio(
            ratio, self.severity_ratio_thresholds
        )
        detail = ValidationDetail(
            element_count=row_count,
            unexpected_count=count,
            unexpected_percent=round(100.0 * ratio, 4),
        )
        return ValidationIssue(
            column=self.column,
            issue_type=self.issue_type,
            count=count,
            severity=sev,
            validator_name=self.name,
            expected=self.expected,
            actual=count,
            details=self.details_template.format(count=count, ratio=ratio)
            if self.details_template
            else f"{count} violating rows ({ratio:.2%})",
            result=detail,
        )


class Validator:
    """Base validator: compiles to ExpressionSpecs (reference base.py:962-1061).

    Subclasses implement ``specs(df)``. Validators needing multi-pass or
    driver-side logic (outliers, drift, referential joins) override
    ``validate(df)`` directly — those run as separate Spark jobs, still
    declarative DataFrame plans.

    The ``specs(df)`` contract: it starts no Spark job and does not depend
    on the data — only on the validator's parameters and ``df``'s schema.
    The executor relies on this to compile a suite once per schema and
    reuse it on every later frame (e.g. each streaming micro-batch).
    Data-dependent set-up (a reference table's count, a modal value)
    belongs in ``validate()``.
    """

    name: str = "validator"
    category: str = "core"

    def specs(self, df: DataFrame) -> list[ExpressionSpec]:
        return []

    def validate(self, df: DataFrame, row_count: int | None = None) -> list[ValidationIssue]:
        """Standalone execution path (single-validator agg job)."""
        from truthound_spark.core.executor import BatchExpressionExecutor

        return BatchExpressionExecutor([self]).execute(df)

    # -- helpers -----------------------------------------------------------
    @staticmethod
    def _target_columns(
        df: DataFrame,
        columns: list[str] | None,
        types: tuple[type, ...] | None = None,
        exclude: list[str] | None = None,
    ) -> list[str]:
        """Column targeting (reference: base.py:2822-2858 ColumnValidator).

        Accepts a bare column name for ``columns`` (the natural call is
        ``NullValidator("email")``) — without the wrap, iterating the
        string would target single-character column names and the check
        would SILENTLY pass, the worst failure mode a validator can have.
        For the same reason, an explicit target list where *nothing*
        matches the frame raises instead of validating vacuously; partial
        matches still filter (schema-drift tolerance for auto-suites).
        """
        if isinstance(columns, str):
            columns = [columns]
        if columns:
            matched = [c for c in columns if c in df.columns]
            if not matched:
                raise ValueError(
                    f"none of the targeted columns {list(columns)!r} exist in "
                    f"the frame (columns: {df.columns})"
                )
            return matched
        out = columns_of_type(df, types) if types else list(df.columns)
        if exclude:
            out = [c for c in out if c not in exclude]
        return out


def pct_agg(column, q, approx: bool = False, accuracy: int = 10_000):
    """Percentile aggregate via the COLUMN API — never SQL-string
    interpolation (review r7: a column named "order count" or "from"
    inside an F.expr percentile string raises ParseException)."""
    col = F.col(column) if isinstance(column, str) else column
    if isinstance(q, (list, tuple)):
        qq = F.array(*[F.lit(float(x)) for x in q])
    else:
        qq = F.lit(float(q))
    if approx:
        return F.percentile_approx(col, qq, F.lit(accuracy))
    return F.percentile(col, qq)


def violation_count(predicate: Column) -> Column:
    """Aggregate: number of rows where predicate holds (Spark-side fused)."""
    return F.sum(F.when(predicate, F.lit(1)).otherwise(F.lit(0)))
