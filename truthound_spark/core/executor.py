"""BatchExpressionExecutor — the fused single-aggregation execution core.

Reference design: ExpressionBatchExecutor merges all expression-validators'
specs into ONE select (src/truthound/validators/base.py:2309-2471, docstring
claim "3 validators, 10M rows: ~0.5s batched vs ~1.5s sequential"), with
SharedMetricStore-level metric dedup (validators/metrics.py:162-201).

Spark translation: union every spec's aggregate Columns into a single
``df.agg(...)`` — one job, one scan, whole-stage codegen, map-side partial
aggregation; Catalyst deduplicates identical sub-expressions. At 100 TB this
is the difference between N full scans and 1. Evidence passes (ResultFormat
>= BASIC) are per-issue ``filter(pred).limit(k)`` jobs over the (optionally
cached) input.

Suite reuse: ``specs(df)`` is a pure function of the validator's
parameters and the frame's schema (see ``Validator``), so each validator
instance keeps its compiled specs and aliased aggregate Columns for the
latest (schema, parameters) it saw. A streaming sink that validates
micro-batch after micro-batch of one schema compiles its suite once; only
the fused aggregate runs per batch.
"""

from __future__ import annotations

import datetime
import weakref
from decimal import Decimal
from enum import Enum
from typing import Any, NamedTuple

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from truthound_spark.core.base import ExpressionSpec, Validator
from truthound_spark.core.results import ValidationIssue
from truthound_spark.types import ResultFormat, ResultFormatConfig, Severity

_PLAIN = (
    type(None), bool, int, float, complex, str, bytes, Decimal,
    datetime.date, datetime.time, datetime.timedelta, Enum,
)


class _NotPlain(Exception):
    pass


def _freeze(value: Any) -> Any:
    """A comparable copy of a plain parameter value: scalars and lists,
    tuples, sets and dicts of them, with their types (``1 != 1.0 != True``
    as parameters). Anything else raises ``_NotPlain``."""
    if isinstance(value, _PLAIN):
        return type(value), value
    if isinstance(value, (list, tuple)):
        return type(value), tuple(_freeze(v) for v in value)
    if isinstance(value, (set, frozenset)):
        return type(value), frozenset(_freeze(v) for v in value)
    if isinstance(value, dict):
        return dict, tuple((_freeze(k), _freeze(v)) for k, v in value.items())
    raise _NotPlain


def _params(validator: Validator) -> Any:
    """Snapshot of the validator's instance attributes, or None when one
    of them is not a plain value (a DataFrame, a Column, a callable or any
    other object): its specs could then depend on state the snapshot cannot
    see, so it is compiled on every call."""
    try:
        return _freeze(vars(validator))
    except (_NotPlain, TypeError):
        return None


class _Compiled(NamedTuple):
    vi: int
    schema: Any
    params: Any
    members: list[tuple[str, ExpressionSpec]]
    agg_cols: list[Column]


#: The latest compiled form of each validator instance; an entry goes when
#: its validator is collected.
_COMPILED: "weakref.WeakKeyDictionary[Validator, _Compiled]" = (
    weakref.WeakKeyDictionary()
)


def _compile(
    validator: Validator, vi: int, df: DataFrame
) -> tuple[list[tuple[str, ExpressionSpec]], list[Column]]:
    """The validator's (prefix, spec) members at suite position ``vi`` and
    their aliased aggregate Columns, reused while the position, the frame's
    schema and the validator's parameters are unchanged."""
    params = _params(validator)
    entry = None
    if params is not None:
        try:
            entry = _COMPILED.get(validator)
        except TypeError:  # unhashable or not weak-referenceable: no reuse
            params = None
    if entry is not None and (entry.vi, entry.schema, entry.params) == (
        vi, df.schema, params
    ):
        return entry.members, entry.agg_cols
    members = [(f"s{vi}_{si}", spec) for si, spec in enumerate(validator.specs(df))]
    agg_cols = [c for prefix, spec in members for c in spec.agg_columns(prefix)]
    if params is not None:
        _COMPILED[validator] = _Compiled(vi, df.schema, params, members, agg_cols)
    return members, agg_cols


def _compile_suite(
    validators: list[Validator], df: DataFrame
) -> tuple[list[tuple[str, ExpressionSpec]], list[Column], list[ValidationIssue]]:
    """The suite's (prefix, spec) members and its aggregate Columns, led
    by ``__row_count``, each validator compiled by :func:`_compile`; a
    validator whose specs fail to compile is left out and reported as an
    ``execution_error`` issue (exception isolation: base.py:426-548)."""
    compiled: list[tuple[str, ExpressionSpec]] = []
    agg_cols = [F.count(F.lit(1)).cast("long").alias("__row_count")]
    errors: list[ValidationIssue] = []
    for vi, validator in enumerate(validators):
        try:
            members, cols = _compile(validator, vi, df)
        except Exception as exc:
            errors.append(
                ValidationIssue(
                    column=None,
                    issue_type="execution_error",
                    count=0,
                    severity=Severity.HIGH,
                    validator_name=validator.name,
                    details=f"spec compilation failed: {exc}",
                    exception_info={"type": type(exc).__name__, "message": str(exc)},
                )
            )
            continue
        compiled.extend(members)
        agg_cols.extend(cols)
    return compiled, agg_cols, errors


class BatchExpressionExecutor:
    def __init__(
        self,
        validators: list[Validator],
        result_format: ResultFormat | str | ResultFormatConfig = ResultFormat.BOOLEAN_ONLY,
    ) -> None:
        self.validators = validators
        cfg = ResultFormatConfig.from_any(result_format)
        self.format_config = cfg
        self.result_format = cfg.format

    def execute(self, df: DataFrame) -> list[ValidationIssue]:
        issues, _ = self.execute_with_stats(df)
        return issues

    def execute_with_stats(
        self, df: DataFrame
    ) -> tuple[list[ValidationIssue], dict[str, Any]]:
        # Phase 0: compile all validators to specs (reused per schema).
        compiled, agg_cols, exec_issues = _compile_suite(self.validators, df)

        # Phase 1: ONE fused aggregation job for the whole suite. If any
        # single spec poisons Spark analysis/execution (e.g. a validator
        # referencing a dropped column), fall back to per-spec jobs so one
        # bad check cannot crash the suite (reference exception isolation:
        # base.py:426-548).
        try:
            row = df.agg(*agg_cols).collect()[0].asDict()
        except Exception:
            row, spec_errors = self._execute_isolated(df, compiled)
            exec_issues.extend(spec_errors)
            compiled = [(p, s) for p, s in compiled if f"{p}__err" not in row]
        row_count = int(row["__row_count"])

        issues: list[ValidationIssue] = list(exec_issues)
        failing: list[tuple[ExpressionSpec, ValidationIssue]] = []
        for prefix, spec in compiled:
            metrics = spec.metrics_from_row(prefix, row)
            issue = spec.evaluate(metrics, row_count)
            if issue is not None:
                issues.append(issue)
                if spec.filter_expr is not None:
                    failing.append((spec, issue))

        # Phases 2-4 (format-gated evidence; reference base.py:2004-2015).
        if (
            self.format_config.includes_unexpected_samples()
            or self.format_config.includes_full_results()
        ) and failing:
            for spec, issue in failing:
                try:
                    self._enrich(df, spec, issue)
                except Exception:  # evidence is best-effort
                    pass
        return issues, {"row_count": row_count, "checks": len(compiled)}

    def _execute_isolated(
        self, df: DataFrame, compiled: list[tuple[str, ExpressionSpec]]
    ) -> tuple[dict[str, Any], list[ValidationIssue]]:
        """Per-spec fallback: run each spec's aggregates as its own job,
        converting individual failures into execution_error issues."""
        row: dict[str, Any] = {
            "__row_count": int(
                df.agg(F.count(F.lit(1)).alias("n")).collect()[0]["n"]
            )
        }
        errors: list[ValidationIssue] = []
        for prefix, spec in compiled:
            cols = spec.agg_columns(prefix)
            if not cols:
                continue
            try:
                row.update(df.agg(*cols).collect()[0].asDict())
            except Exception as exc:
                row[f"{prefix}__err"] = True
                errors.append(
                    ValidationIssue(
                        column=spec.column,
                        issue_type="execution_error",
                        count=0,
                        severity=Severity.HIGH,
                        validator_name=spec.name,
                        details=f"spec execution failed: {exc}",
                        exception_info={
                            "type": type(exc).__name__,
                            "message": str(exc)[:500],
                        },
                    )
                )
        return row, errors

    def _enrich(self, df: DataFrame, spec: ExpressionSpec, issue: ValidationIssue) -> None:
        cfg = self.format_config
        pred = spec.filter_expr
        cols = [spec.column] if spec.column and spec.column in df.columns else None
        base = df.filter(pred)
        if cfg.includes_unexpected_samples() and cfg.partial_unexpected_count > 0:
            sample_df = base.select(*cols) if cols else base
            rows = sample_df.limit(cfg.partial_unexpected_count).collect()
            issue.sample_values = [
                r[spec.column] if cols else r.asDict() for r in rows
            ]
        # issue.result None (judge-path specs) would discard the frequency
        # rows — check BEFORE firing the groupBy scan, not after
        if cfg.includes_unexpected_counts() and cols and issue.result is not None:
            freq = (
                base.groupBy(spec.column)
                .count()
                .orderBy(F.desc("count"))
                .limit(cfg.partial_unexpected_count or 1)
                .collect()
            )
            issue.result.partial_unexpected_counts = [
                {"value": r[spec.column], "count": r["count"]} for r in freq
            ]
        if cfg.includes_full_results() and issue.result is not None:
            row_df = base
            if cfg.include_unexpected_index:
                # partition-encoded id — see ResultFormatConfig docstring
                row_df = row_df.withColumn(
                    "__row_index", F.monotonically_increasing_id()
                )
            rows = row_df.limit(cfg.max_unexpected_rows).collect()
            issue.result.unexpected_rows = [r.asDict() for r in rows]
        if cfg.return_debug_query and issue.result is not None and pred is not None:
            try:
                issue.result.debug_query = str(pred._jc)
            except Exception:
                issue.result.debug_query = str(pred)
