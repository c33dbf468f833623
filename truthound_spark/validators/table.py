"""Table-level validators: row counts, schema shape, size, freshness.

Reference: src/truthound/validators/table/row_count.py:17-253,
column_count.py:17-190, schema.py:17-330, size.py:17-260,
freshness.py:18-340.

Spark-first notes:
  * Schema-shape checks (column count / required / forbidden / types /
    order) are pure driver-side metadata reads — ``df.schema`` costs no
    Spark job at any scale.
  * Row-count checks compile to the fused single-agg path
    (``ExpressionSpec`` with a judge), so a suite of table checks shares
    one scan with every other validator in the batch.
  * ``table_memory_size`` uses Catalyst's optimized-plan statistics
    (``sizeInBytes``) — the same estimate AQE uses to pick broadcast
    joins — instead of materializing the data.
"""

from __future__ import annotations

from datetime import datetime, timedelta
from typing import Any

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from truthound_spark.core.base import ExpressionSpec, Validator
from truthound_spark.core.registry import register_validator
from truthound_spark.core.results import ValidationIssue
from truthound_spark.types import Severity


# ---------------------------------------------------------------------------
# Row-count family (reference: table/row_count.py)
# ---------------------------------------------------------------------------
@register_validator("table_row_count_range", category="table")
class TableRowCountRangeValidator(Validator):
    """Row count within [min_rows, max_rows]
    (reference: table/row_count.py:17-89)."""

    name = "table_row_count_range"

    def __init__(self, min_rows: int | None = None, max_rows: int | None = None) -> None:
        if min_rows is None and max_rows is None:
            raise ValueError("At least one of 'min_rows'/'max_rows' required")
        self.min_rows = min_rows
        self.max_rows = max_rows

    def specs(self, df: DataFrame) -> list[ExpressionSpec]:
        lo, hi = self.min_rows, self.max_rows

        def judge(m: dict[str, Any]) -> tuple[bool, Any, str]:
            n = m.get("n") or 0
            ok = (lo is None or n >= lo) and (hi is None or n <= hi)
            return ok, n, f"table has {n} rows, expected in [{lo},{hi}]"

        return [
            ExpressionSpec(
                name=self.name,
                issue_type="table_row_count_out_of_range",
                column=None,
                extra_exprs={"n": F.count(F.lit(1))},
                expected=f"row count in [{lo},{hi}]",
                judge=judge,
                fixed_severity=Severity.HIGH,
            )
        ]


@register_validator("table_row_count_exact", category="table")
class TableRowCountExactValidator(Validator):
    """Row count == expected_rows ± tolerance
    (reference: table/row_count.py:92-139)."""

    name = "table_row_count_exact"

    def __init__(self, expected_rows: int, tolerance: int = 0) -> None:
        self.expected_rows = expected_rows
        self.tolerance = tolerance

    def specs(self, df: DataFrame) -> list[ExpressionSpec]:
        exp, tol = self.expected_rows, self.tolerance

        def judge(m: dict[str, Any]) -> tuple[bool, Any, str]:
            n = m.get("n") or 0
            return (
                abs(n - exp) <= tol,
                n,
                f"table has {n} rows, expected {exp} (±{tol})",
            )

        return [
            ExpressionSpec(
                name=self.name,
                issue_type="table_row_count_mismatch",
                column=None,
                extra_exprs={"n": F.count(F.lit(1))},
                expected=f"{exp} ± {tol} rows",
                judge=judge,
                fixed_severity=Severity.HIGH,
            )
        ]


@register_validator("table_not_empty", category="table")
class TableNotEmptyValidator(Validator):
    """Table has at least min_rows rows (reference: table/row_count.py:224-253).

    Scale note: uses ``df.isEmpty()``-style limited scan — Spark stops
    after finding ``min_rows`` rows rather than counting everything.
    """

    name = "table_not_empty"

    def __init__(self, min_rows: int = 1) -> None:
        self.min_rows = min_rows

    def validate(self, df: DataFrame, row_count: int | None = None) -> list[ValidationIssue]:
        found = len(df.limit(self.min_rows).take(self.min_rows))
        if found >= self.min_rows:
            return []
        return [
            ValidationIssue(
                column=None,
                issue_type="table_empty",
                count=1,
                severity=Severity.CRITICAL,
                validator_name=self.name,
                expected=f">= {self.min_rows} rows",
                actual=found,
                details=f"Table has fewer than {self.min_rows} rows",
            )
        ]


@register_validator("table_row_count_compare", category="table")
class TableRowCountCompareValidator(Validator):
    """Row count vs a reference DataFrame (reference: table/row_count.py:142-221).

    comparison ∈ {equal, greater, greater_equal, less, less_equal};
    ``tolerance_ratio`` applies to 'equal'. The reference count is one
    job on the reference frame — at scale it should be a cached metric,
    so we accept an int as well.
    """

    name = "table_row_count_compare"
    COMPARISONS = {
        "equal": lambda a, b, tol: abs(a - b) <= tol,
        "greater": lambda a, b, tol: a > b,
        "greater_equal": lambda a, b, tol: a >= b,
        "less": lambda a, b, tol: a < b,
        "less_equal": lambda a, b, tol: a <= b,
    }

    def __init__(
        self,
        reference_table: DataFrame | int,
        comparison: str = "equal",
        tolerance_ratio: float = 0.0,
    ) -> None:
        if comparison not in self.COMPARISONS:
            raise ValueError(
                f"Invalid comparison: {comparison}. Use one of {list(self.COMPARISONS)}"
            )
        self.reference_table = reference_table
        self.comparison = comparison
        self.tolerance_ratio = tolerance_ratio

    def validate(self, df: DataFrame, row_count: int | None = None) -> list[ValidationIssue]:
        # the reference count is a job on ANOTHER frame, so it cannot ride
        # the suite aggregate (and specs() must start no job); the checked
        # frame's count comes from the suite's row count when check() has one
        ref_count = (
            self.reference_table
            if isinstance(self.reference_table, int)
            else self.reference_table.count()
        )
        n = row_count if row_count is not None else df.count()
        cmp = self.comparison
        if self.COMPARISONS[cmp](n, ref_count, int(ref_count * self.tolerance_ratio)):
            return []
        return [
            ValidationIssue(
                column=None,
                issue_type="table_row_count_compare_failed",
                count=0,
                severity=Severity.HIGH,
                validator_name=self.name,
                expected=f"row count {cmp} {ref_count}",
                actual=n,
                details=f"row count {n} is not {cmp} to reference {ref_count}",
            )
        ]


# ---------------------------------------------------------------------------
# Schema-shape family (reference: table/column_count.py, table/schema.py)
# — driver-side metadata only, zero Spark jobs.
# ---------------------------------------------------------------------------
@register_validator("table_column_count", category="table")
class TableColumnCountValidator(Validator):
    """Column count exact or within range
    (reference: table/column_count.py:17-100)."""

    name = "table_column_count"

    def __init__(
        self,
        expected_count: int | None = None,
        min_count: int | None = None,
        max_count: int | None = None,
    ) -> None:
        if expected_count is None and min_count is None and max_count is None:
            raise ValueError(
                "At least one of 'expected_count'/'min_count'/'max_count' required"
            )
        self.expected_count = expected_count
        self.min_count = min_count
        self.max_count = max_count

    def validate(self, df: DataFrame, row_count: int | None = None) -> list[ValidationIssue]:
        n = len(df.columns)
        issues: list[ValidationIssue] = []
        if self.expected_count is not None and n != self.expected_count:
            issues.append(
                ValidationIssue(
                    column=None,
                    issue_type="table_column_count_mismatch",
                    count=abs(n - self.expected_count),
                    severity=Severity.HIGH,
                    validator_name=self.name,
                    expected=f"{self.expected_count} columns",
                    actual=n,
                    details=f"Table has {n} columns, expected {self.expected_count}",
                )
            )
        if self.min_count is not None and n < self.min_count:
            issues.append(
                ValidationIssue(
                    column=None,
                    issue_type="table_too_few_columns",
                    count=self.min_count - n,
                    severity=Severity.MEDIUM,
                    validator_name=self.name,
                    expected=f">= {self.min_count} columns",
                    actual=n,
                    details=f"Table has {n} columns, expected at least {self.min_count}",
                )
            )
        if self.max_count is not None and n > self.max_count:
            issues.append(
                ValidationIssue(
                    column=None,
                    issue_type="table_too_many_columns",
                    count=n - self.max_count,
                    severity=Severity.MEDIUM,
                    validator_name=self.name,
                    expected=f"<= {self.max_count} columns",
                    actual=n,
                    details=f"Table has {n} columns, expected at most {self.max_count}",
                )
            )
        return issues


@register_validator("table_required_columns", category="table")
class TableRequiredColumnsValidator(Validator):
    """All required columns present (reference: table/column_count.py:103-149)."""

    name = "table_required_columns"

    def __init__(self, required_columns: list[str]) -> None:
        self.required_columns = required_columns

    def validate(self, df: DataFrame, row_count: int | None = None) -> list[ValidationIssue]:
        missing = [c for c in self.required_columns if c not in df.columns]
        if not missing:
            return []
        return [
            ValidationIssue(
                column=",".join(missing),
                issue_type="table_missing_required_columns",
                count=len(missing),
                severity=Severity.CRITICAL,
                validator_name=self.name,
                expected=f"columns {self.required_columns} present",
                actual=sorted(missing),
                details=f"Missing required columns: {sorted(missing)}",
            )
        ]


@register_validator("table_forbidden_columns", category="table")
class TableForbiddenColumnsValidator(Validator):
    """No forbidden columns present (reference: table/column_count.py:152-190)."""

    name = "table_forbidden_columns"

    def __init__(self, forbidden_columns: list[str]) -> None:
        self.forbidden_columns = forbidden_columns

    def validate(self, df: DataFrame, row_count: int | None = None) -> list[ValidationIssue]:
        present = [c for c in self.forbidden_columns if c in df.columns]
        if not present:
            return []
        return [
            ValidationIssue(
                column=",".join(present),
                issue_type="table_forbidden_columns_present",
                count=len(present),
                severity=Severity.HIGH,
                validator_name=self.name,
                expected=f"columns {self.forbidden_columns} absent",
                actual=sorted(present),
                details=f"Forbidden columns present: {sorted(present)}",
            )
        ]


def _type_name(dt: Any) -> str:
    """Normalize a Spark DataType (or type-name string) for comparison."""
    if isinstance(dt, str):
        return dt.lower()
    return dt.simpleString().lower()


@register_validator("table_schema_match", category="table")
class TableSchemaMatchValidator(Validator):
    """Schema matches expected {column: spark-type-name} mapping
    (reference: table/schema.py:17-139).

    ``strict`` flags extra columns; ``check_order`` enforces column order.
    Type names use Spark ``simpleString`` ("bigint", "string", "double").
    """

    name = "table_schema_match"

    def __init__(
        self,
        expected_schema: dict[str, str],
        strict: bool = True,
        check_order: bool = False,
    ) -> None:
        self.expected_schema = expected_schema
        self.strict = strict
        self.check_order = check_order

    def validate(self, df: DataFrame, row_count: int | None = None) -> list[ValidationIssue]:
        issues: list[ValidationIssue] = []
        actual = {f.name: _type_name(f.dataType) for f in df.schema.fields}
        expected_cols = set(self.expected_schema)
        actual_cols = set(actual)

        missing = sorted(expected_cols - actual_cols)
        if missing:
            issues.append(
                ValidationIssue(
                    column=",".join(missing),
                    issue_type="schema_missing_columns",
                    count=len(missing),
                    severity=Severity.CRITICAL,
                    validator_name=self.name,
                    details=f"Missing columns: {missing}",
                    expected=sorted(expected_cols),
                    actual=sorted(actual_cols),
                )
            )
        if self.strict:
            extra = sorted(actual_cols - expected_cols)
            if extra:
                issues.append(
                    ValidationIssue(
                        column=",".join(extra),
                        issue_type="schema_extra_columns",
                        count=len(extra),
                        severity=Severity.MEDIUM,
                        validator_name=self.name,
                        details=f"Unexpected extra columns: {extra}",
                        expected=sorted(expected_cols),
                        actual=sorted(actual_cols),
                    )
                )
        mismatched = [
            (c, actual[c], _type_name(t))
            for c, t in self.expected_schema.items()
            if c in actual and actual[c] != _type_name(t)
        ]
        if mismatched:
            issues.append(
                ValidationIssue(
                    column=",".join(c for c, _, _ in mismatched),
                    issue_type="schema_type_mismatch",
                    count=len(mismatched),
                    severity=Severity.HIGH,
                    validator_name=self.name,
                    details="; ".join(
                        f"{c}: got {got}, expected {exp}" for c, got, exp in mismatched
                    ),
                    expected={c: exp for c, _, exp in mismatched},
                    actual={c: got for c, got, _ in mismatched},
                )
            )
        if self.check_order:
            expected_order = [c for c in self.expected_schema if c in actual]
            actual_order = [c for c in df.columns if c in expected_cols]
            if expected_order != actual_order:
                issues.append(
                    ValidationIssue(
                        column=None,
                        issue_type="schema_column_order_mismatch",
                        count=1,
                        severity=Severity.LOW,
                        validator_name=self.name,
                        details=f"Column order {actual_order} != expected {expected_order}",
                        expected=expected_order,
                        actual=actual_order,
                    )
                )
        return issues


@register_validator("table_schema_compare", category="table")
class TableSchemaCompareValidator(Validator):
    """Schema matches a reference DataFrame's schema
    (reference: table/schema.py:142-256)."""

    name = "table_schema_compare"

    def __init__(
        self,
        reference_table: DataFrame,
        check_types: bool = True,
        check_order: bool = False,
        ignore_columns: list[str] | None = None,
    ) -> None:
        self.reference_table = reference_table
        self.check_types = check_types
        self.check_order = check_order
        self.ignore_columns = set(ignore_columns or [])

    def validate(self, df: DataFrame, row_count: int | None = None) -> list[ValidationIssue]:
        ref = self.reference_table
        expected = {
            f.name: _type_name(f.dataType)
            for f in ref.schema.fields
            if f.name not in self.ignore_columns
        }
        inner = TableSchemaMatchValidator(
            expected_schema=expected if self.check_types else {c: "" for c in expected},
            strict=True,
            check_order=self.check_order,
        )
        if not self.check_types:
            # name-only comparison: rebuild with actual types so type check passes
            actual = {f.name: _type_name(f.dataType) for f in df.schema.fields}
            inner.expected_schema = {c: actual.get(c, "missing") for c in expected}
        issues = inner.validate(df.drop(*[c for c in self.ignore_columns if c in df.columns]))
        for i in issues:
            i.validator_name = self.name
        return issues


@register_validator("table_column_types", category="table")
class TableColumnTypesValidator(Validator):
    """Each column's type is in an allowed set
    (reference: table/schema.py:259-330)."""

    name = "table_column_types"

    def __init__(self, column_types: dict[str, list[str] | str]) -> None:
        self.column_types = {
            c: [t] if isinstance(t, str) else list(t) for c, t in column_types.items()
        }

    def validate(self, df: DataFrame, row_count: int | None = None) -> list[ValidationIssue]:
        actual = {f.name: _type_name(f.dataType) for f in df.schema.fields}
        issues: list[ValidationIssue] = []
        for col, allowed in self.column_types.items():
            if col not in actual:
                issues.append(
                    ValidationIssue(
                        column=col,
                        issue_type="column_not_found",
                        count=1,
                        severity=Severity.HIGH,
                        validator_name=self.name,
                        expected=f"column '{col}' present",
                        details=f"Column '{col}' not found in table",
                    )
                )
                continue
            allowed_norm = [_type_name(t) for t in allowed]
            if actual[col] not in allowed_norm:
                issues.append(
                    ValidationIssue(
                        column=col,
                        issue_type="column_type_not_allowed",
                        count=1,
                        severity=Severity.HIGH,
                        validator_name=self.name,
                        expected=allowed_norm,
                        actual=actual[col],
                        details=f"Column '{col}' has type {actual[col]}, allowed {allowed_norm}",
                    )
                )
        return issues


# ---------------------------------------------------------------------------
# Size family (reference: table/size.py)
# ---------------------------------------------------------------------------
@register_validator("table_memory_size", category="table")
class TableMemorySizeValidator(Validator):
    """Estimated in-memory size within bounds (reference: table/size.py:17-112).

    Spark-first: reads Catalyst's optimized-plan ``sizeInBytes`` statistic
    (what AQE/broadcast planning uses) — no materialization at any scale.
    The estimate is an upper bound for file sources (raw file bytes).
    """

    name = "table_memory_size"

    def __init__(
        self,
        max_size_mb: float | None = None,
        min_size_mb: float | None = None,
        max_size_bytes: int | None = None,
        min_size_bytes: int | None = None,
    ) -> None:
        self.max_size_bytes = (
            max_size_bytes
            if max_size_bytes is not None
            else int(max_size_mb * 1024 * 1024) if max_size_mb is not None else None
        )
        self.min_size_bytes = (
            min_size_bytes
            if min_size_bytes is not None
            else int(min_size_mb * 1024 * 1024) if min_size_mb is not None else None
        )
        if self.max_size_bytes is None and self.min_size_bytes is None:
            raise ValueError("At least one size bound required")

    #: Catalyst reports Long.MaxValue when a plan's size is unknown
    #: (e.g. a local relation); treat anything near it as "no estimate".
    _UNKNOWN_SENTINEL = (1 << 62)

    @staticmethod
    def estimated_size_bytes(df: DataFrame, sample_rows: int = 1000) -> int:
        stats = int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
        if 0 < stats < TableMemorySizeValidator._UNKNOWN_SENTINEL:
            return stats
        # Fallback: sample-extrapolated estimate (row count agg + tiny take).
        n = df.count()
        if n == 0:
            return 0
        sample = df.limit(min(sample_rows, n)).toPandas()
        per_row = int(sample.memory_usage(deep=True).sum()) / max(len(sample), 1)
        return int(per_row * n)

    def validate(self, df: DataFrame, row_count: int | None = None) -> list[ValidationIssue]:
        size = self.estimated_size_bytes(df)
        issues: list[ValidationIssue] = []
        if self.max_size_bytes is not None and size > self.max_size_bytes:
            issues.append(
                ValidationIssue(
                    column=None,
                    issue_type="table_too_large",
                    count=1,
                    severity=Severity.MEDIUM,
                    validator_name=self.name,
                    expected=f"<= {self.max_size_bytes} bytes",
                    actual=size,
                    details=f"Estimated size {size} bytes exceeds max {self.max_size_bytes}",
                )
            )
        if self.min_size_bytes is not None and size < self.min_size_bytes:
            issues.append(
                ValidationIssue(
                    column=None,
                    issue_type="table_too_small",
                    count=1,
                    severity=Severity.LOW,
                    validator_name=self.name,
                    expected=f">= {self.min_size_bytes} bytes",
                    actual=size,
                    details=f"Estimated size {size} bytes below min {self.min_size_bytes}",
                )
            )
        return issues


@register_validator("table_row_to_column_ratio", category="table")
class TableRowToColumnRatioValidator(Validator):
    """rows/columns ratio within bounds (reference: table/size.py:115-187)."""

    name = "table_row_to_column_ratio"

    def __init__(self, min_ratio: float | None = None, max_ratio: float | None = None) -> None:
        if min_ratio is None and max_ratio is None:
            raise ValueError("At least one of 'min_ratio'/'max_ratio' required")
        self.min_ratio = min_ratio
        self.max_ratio = max_ratio

    def specs(self, df: DataFrame) -> list[ExpressionSpec]:
        ncols = max(len(df.columns), 1)
        lo, hi = self.min_ratio, self.max_ratio

        def judge(m: dict[str, Any]) -> tuple[bool, Any, str]:
            ratio = (m.get("n") or 0) / ncols
            ok = (lo is None or ratio >= lo) and (hi is None or ratio <= hi)
            return ok, round(ratio, 4), f"rows/columns ratio {ratio:.2f} ∉ [{lo},{hi}]"

        return [
            ExpressionSpec(
                name=self.name,
                issue_type="table_row_to_column_ratio_out_of_range",
                column=None,
                extra_exprs={"n": F.count(F.lit(1))},
                expected=f"rows/cols in [{lo},{hi}]",
                judge=judge,
                fixed_severity=Severity.LOW,
            )
        ]


@register_validator("table_dimensions", category="table")
class TableDimensionsValidator(Validator):
    """Row and column counts within bounds (reference: table/size.py:190-260)."""

    name = "table_dimensions"

    def __init__(
        self,
        min_rows: int | None = None,
        max_rows: int | None = None,
        min_cols: int | None = None,
        max_cols: int | None = None,
    ) -> None:
        self.min_rows = min_rows
        self.max_rows = max_rows
        self.min_cols = min_cols
        self.max_cols = max_cols

    def specs(self, df: DataFrame) -> list[ExpressionSpec]:
        ncols = len(df.columns)
        lo, hi, clo, chi = self.min_rows, self.max_rows, self.min_cols, self.max_cols

        def judge(m: dict[str, Any]) -> tuple[bool, Any, str]:
            n = m.get("n") or 0
            ok = (
                (lo is None or n >= lo)
                and (hi is None or n <= hi)
                and (clo is None or ncols >= clo)
                and (chi is None or ncols <= chi)
            )
            return (
                ok,
                {"rows": n, "cols": ncols},
                f"dimensions ({n} rows × {ncols} cols) outside "
                f"rows [{lo},{hi}] × cols [{clo},{chi}]",
            )

        return [
            ExpressionSpec(
                name=self.name,
                issue_type="table_dimensions_out_of_range",
                column=None,
                extra_exprs={"n": F.count(F.lit(1))},
                expected=f"rows in [{lo},{hi}], cols in [{clo},{chi}]",
                judge=judge,
                fixed_severity=Severity.MEDIUM,
            )
        ]


# ---------------------------------------------------------------------------
# Freshness family (reference: table/freshness.py)
# ---------------------------------------------------------------------------
@register_validator("table_freshness", category="table")
class TableFreshnessValidator(Validator):
    """max(timestamp) within max age of reference time
    (reference: table/freshness.py:18-170). Single max() aggregate, fused."""

    name = "table_freshness"

    def __init__(
        self,
        timestamp_column: str,
        max_age_hours: int | None = None,
        max_age_days: int | None = None,
        max_age_minutes: int | None = None,
        reference_time: datetime | None = None,
    ) -> None:
        if max_age_hours is None and max_age_days is None and max_age_minutes is None:
            raise ValueError(
                "At least one of 'max_age_hours'/'max_age_days'/'max_age_minutes' required"
            )
        self.timestamp_column = timestamp_column
        total_minutes = (max_age_minutes or 0) + (max_age_hours or 0) * 60 + (
            max_age_days or 0
        ) * 24 * 60
        self.max_age = timedelta(minutes=total_minutes)
        self.reference_time = reference_time

    def specs(self, df: DataFrame) -> list[ExpressionSpec]:
        col, max_age = self.timestamp_column, self.max_age
        ref_time = self.reference_time

        def judge(m: dict[str, Any]) -> tuple[bool, Any, str]:
            max_ts = m.get("max_ts")
            if max_ts is None:
                return False, None, f"No valid timestamps in column '{col}'"
            now = ref_time or datetime.now()
            if hasattr(max_ts, "to_pydatetime"):
                max_ts = max_ts.to_pydatetime()
            if getattr(max_ts, "tzinfo", None) is not None:
                max_ts = max_ts.replace(tzinfo=None)
            age = now - max_ts
            return (
                age <= max_age,
                str(max_ts),
                f"newest record is {age} old, exceeds max age {max_age}",
            )

        return [
            ExpressionSpec(
                name=self.name,
                issue_type="table_stale",
                column=col,
                extra_exprs={"max_ts": F.max(F.col(col))},
                expected=f"max({col}) within {max_age} of reference time",
                judge=judge,
                fixed_severity=Severity.HIGH,
            )
        ]


@register_validator("table_data_recency", category="table")
class TableDataRecencyValidator(Validator):
    """At least min_recent_ratio of rows within max_age_days
    (reference: table/freshness.py:174-248). One fused conditional-sum agg."""

    name = "table_data_recency"

    def __init__(
        self,
        timestamp_column: str,
        max_age_days: int,
        min_recent_ratio: float = 0.5,
        reference_time: datetime | None = None,
    ) -> None:
        self.timestamp_column = timestamp_column
        self.max_age_days = max_age_days
        self.min_recent_ratio = min_recent_ratio
        self.reference_time = reference_time

    def specs(self, df: DataFrame) -> list[ExpressionSpec]:
        col = F.col(self.timestamp_column)
        ref = F.lit(self.reference_time) if self.reference_time else F.current_timestamp()
        threshold = ref - F.expr(f"INTERVAL {self.max_age_days} DAYS")
        min_ratio = self.min_recent_ratio

        def judge(m: dict[str, Any]) -> tuple[bool, Any, str]:
            nn = m.get("denom") or 0
            recent = m.get("count") or 0
            ratio = recent / nn if nn else 0.0
            return (
                ratio >= min_ratio,
                round(ratio, 4),
                f"only {ratio:.1%} of rows within {self.max_age_days}d, "
                f"expected >= {min_ratio:.1%}",
            )

        return [
            ExpressionSpec(
                name=self.name,
                issue_type="table_data_not_recent",
                column=self.timestamp_column,
                count_expr=F.sum(F.when(col >= threshold, 1).otherwise(0)),
                non_null_expr=F.count(col),
                expected=f">= {min_ratio:.0%} of rows within {self.max_age_days} days",
                judge=judge,
                fixed_severity=Severity.MEDIUM,
            )
        ]


@register_validator("table_update_frequency", category="table")
class TableUpdateFrequencyValidator(Validator):
    """Expected update cadence has no gaps beyond max_gaps
    (reference: table/freshness.py:251-340).

    Spark-first: truncate timestamps to the frequency bucket, count
    distinct buckets, and compare with the expected bucket span — one
    aggregate, no window, no per-row Python.
    """

    name = "table_update_frequency"
    _TRUNC = {"hourly": "hour", "daily": "day", "weekly": "week", "monthly": "month"}
    _MINUTES = {"hourly": 60, "daily": 1440, "weekly": 10080, "monthly": 43200}

    def __init__(
        self,
        timestamp_column: str,
        expected_frequency: str,
        max_gaps: int = 0,
        check_period_days: int | None = None,
    ) -> None:
        if expected_frequency not in self._TRUNC:
            raise ValueError(f"expected_frequency must be one of {list(self._TRUNC)}")
        self.timestamp_column = timestamp_column
        self.expected_frequency = expected_frequency
        self.max_gaps = max_gaps
        self.check_period_days = check_period_days

    def specs(self, df: DataFrame) -> list[ExpressionSpec]:
        col = F.col(self.timestamp_column)
        unit = self._TRUNC[self.expected_frequency]
        bucket_minutes = self._MINUTES[self.expected_frequency]
        if self.check_period_days is not None:
            cutoff = F.current_timestamp() - F.expr(
                f"INTERVAL {self.check_period_days} DAYS"
            )
            col_gated = F.when(col >= cutoff, col)
        else:
            col_gated = col
        bucket = F.date_trunc(unit, col_gated)
        max_gaps, freq = self.max_gaps, self.expected_frequency

        def judge(m: dict[str, Any]) -> tuple[bool, Any, str]:
            buckets = m.get("buckets") or 0
            lo_ts, hi_ts = m.get("min_ts"), m.get("max_ts")
            if not buckets or lo_ts is None or hi_ts is None:
                return False, 0, "no timestamp data to check update frequency"
            span = hi_ts - lo_ts
            expected_buckets = int(span.total_seconds() // (bucket_minutes * 60)) + 1
            gaps = max(expected_buckets - buckets, 0)
            return (
                gaps <= max_gaps,
                {"gaps": gaps, "buckets": buckets},
                f"{gaps} missing {freq} buckets (have {buckets}, "
                f"expected ~{expected_buckets}), max allowed {max_gaps}",
            )

        return [
            ExpressionSpec(
                name=self.name,
                issue_type="table_update_frequency_gaps",
                column=self.timestamp_column,
                extra_exprs={
                    "buckets": F.count_distinct(bucket),
                    "min_ts": F.min(col_gated),
                    "max_ts": F.max(col_gated),
                },
                expected=f"<= {self.max_gaps} gaps at {self.expected_frequency} cadence",
                judge=judge,
                fixed_severity=Severity.MEDIUM,
            )
        ]
