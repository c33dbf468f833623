"""Public API: th.check / th.learn / th.profile / th.scan / th.mask.

Mirrors the reference entry points (src/truthound/api.py): the check
lifecycle is context → asset → suite synthesis → plan → execute → result
(reference api.py:97-147, SURVEY §3.1). Execution stage 5 is replaced by the
fused single-aggregation BatchExpressionExecutor.
"""

from __future__ import annotations

from typing import Any, Iterable

from pyspark.sql import DataFrame, SparkSession

from truthound_spark.adapters import get_spark, to_dataframe
from truthound_spark.core.executor import BatchExpressionExecutor, _compile_suite
from truthound_spark.core.registry import resolve
from truthound_spark.core.results import ValidationRunResult
from truthound_spark.types import ResultFormat, Severity

# ensure all built-ins are registered
import truthound_spark.validators  # noqa: F401  (registration side effect)


def _auto_suite(df: DataFrame, baseline=None) -> list[object]:
    """Zero-config suite (reference: core/suite.py:438-578 AutoSuiteBuilder).

    Deterministic rules ported from suite.py:512-578: always ``null``;
    with a learned baseline (``baseline`` Schema, or one learned on the
    spot when ``learn=True`` is passed to check()):
      * ``type``  — mixed-type smell for string columns,
      * ``range`` — numeric columns fenced at the learned min/max widened
        by 3σ (suite.py:530-545 widening rule),
      * ``unique`` — key-like columns: learned unique==True, or
        unique_ratio ≥ 0.98 + name patterns (id/key/uuid/guid/email/
        code/slug — suite.py:552-571).
    Without a baseline: null + key-name-pattern unique + format.
    """
    from truthound_spark.core.base import STRING_TYPES
    from truthound_spark.validators.aggregate import MixedTypeValidator
    from truthound_spark.validators.completeness import NullValidator
    from truthound_spark.validators.distribution import RangeValidator
    from truthound_spark.validators.string import FormatValidator
    from truthound_spark.validators.uniqueness import UniqueValidator

    suite: list[object] = [NullValidator()]
    key_patterns = ("id", "key", "uuid", "guid", "email", "code", "slug")

    if baseline is not None:
        unique_cols: list[str] = []
        for name, cs in baseline.columns.items():
            if name not in df.columns:
                continue
            if cs.dtype == "string":
                suite.append(MixedTypeValidator(name))
            if cs.min_value is not None and cs.max_value is not None and cs.mean is not None:
                pad = 3.0 * float(cs.std or 0.0)
                # float() — learn() yields decimal.Decimal for DecimalType
                # columns, and Decimal - float raises TypeError
                suite.append(
                    RangeValidator(
                        name, float(cs.min_value) - pad, float(cs.max_value) + pad
                    )
                )
            key_named = any(p in name.lower() for p in key_patterns)
            if cs.unique or (cs.unique_ratio >= 0.98 and key_named):
                unique_cols.append(name)
        if unique_cols:
            suite.append(UniqueValidator(columns=unique_cols))
        suite.append(FormatValidator())
        return suite

    key_like = [
        f.name
        for f in df.schema.fields
        if any(p in f.name.lower() for p in key_patterns)
        and f.name.lower().endswith(("id", "key", "uuid", "guid", "code", "slug"))
    ]
    if key_like:
        suite.append(UniqueValidator(columns=key_like[:1]))
    suite.append(FormatValidator())
    return suite


def check(
    data: Any,
    validators: Iterable[Any] | None = None,
    spark: SparkSession | None = None,
    result_format: "ResultFormat | str | Any" = ResultFormat.BOOLEAN_ONLY,
    min_severity: Severity | None = None,
    cache: bool = False,
    baseline=None,
    learn: bool = False,
    lineage=None,
    asset: str | None = None,
) -> ValidationRunResult:
    """Validate ``data`` and return a ValidationRunResult.

    ``validators``: names / classes / instances; None → auto-suite.
    ``baseline``: a learned Schema driving type/range/unique auto-checks
    (reference core/suite.py:496-578); ``learn=True`` learns one from the
    data first (reference AutoSuiteBuilder fallback, suite.py:496-510).
    ``cache``: persist the DataFrame when evidence phases will re-scan it.
    """
    df = to_dataframe(data, spark)
    from truthound_spark.types import ResultFormatConfig

    format_config = ResultFormatConfig.from_any(result_format)
    result_format = format_config.format
    if validators is None and baseline is None and learn:
        from truthound_spark.schema import learn as learn_schema

        baseline = learn_schema(df)
    vs = resolve(validators) if validators is not None else _auto_suite(df, baseline)
    # respect a caller-established cache: if the frame is already
    # persisted, caching is a no-op and unpersisting would destroy the
    # CALLER's cache — so only manage the lifecycle we created ourselves
    cached = (
        cache
        or result_format >= ResultFormat.BASIC
        or format_config.include_unexpected_rows
    ) and not df.is_cached
    if cached:
        df = df.cache()

    # split: spec-compiled validators run fused; the rest run standalone
    from truthound_spark.core.base import Validator as _V

    spec_validators = [v for v in vs if type(v).validate is _V.validate]
    other_validators = [v for v in vs if type(v).validate is not _V.validate]

    try:
        executor = BatchExpressionExecutor(spec_validators, result_format=format_config)
        issues, stats = executor.execute_with_stats(df)
        for v in other_validators:
            try:
                issues.extend(v.validate(df, row_count=stats["row_count"]))
            except Exception as exc:
                from truthound_spark.core.results import ValidationIssue

                issues.append(
                    ValidationIssue(
                        column=None,
                        issue_type="execution_error",
                        count=0,
                        severity=Severity.HIGH,
                        validator_name=getattr(v, "name", type(v).__name__),
                        details=str(exc),
                        exception_info={"type": type(exc).__name__, "message": str(exc)},
                    )
                )
    finally:
        if cached:
            # evidence phases are done — release cached partitions so
            # repeated check() calls don't leak storage in long sessions
            df.unpersist(blocking=True)

    if min_severity is not None:
        issues = [i for i in issues if i.severity >= min_severity or i.issue_type == "execution_error"]

    exec_issues = [i for i in issues if i.issue_type == "execution_error"]
    real_issues = [i for i in issues if i.issue_type != "execution_error"]
    result = ValidationRunResult(
        issues=real_issues,
        execution_issues=exec_issues,
        source="dataframe",
        row_count=stats["row_count"],
        column_count=len(df.columns),
        execution_mode="batched",
        checks_run=stats["checks"] + len(other_validators),
    )
    if lineage is not None:
        # record the run into the lineage graph (reference
        # lineage/tracker.py:248 track_validation): validator names +
        # the union of columns they target, so impact_of_column can
        # answer blast-radius queries later
        touched: set[str] = set()
        for v in vs:
            cols = getattr(v, "columns", None) or []
            one = getattr(v, "column", None)
            for c in list(cols) + ([one] if isinstance(one, str) else []):
                if isinstance(c, str) and c in df.columns:
                    touched.add(c)
        lineage.track_validation(
            asset=asset or "dataframe",
            validators=[getattr(v, "name", type(v).__name__) for v in vs],
            columns=touched,
            success=result.success,
            issue_count=len(real_issues),
        )
    return result


def check_grouped(
    data: Any,
    group_col: str,
    validators: Iterable[Any],
    spark: SparkSession | None = None,
    min_severity: Severity | None = None,
    max_groups: int = 10_000,
) -> dict[Any, ValidationRunResult]:
    """Run ONE validator suite against every group/segment of the data in
    a SINGLE grouped aggregate — per-partition quality gates (per-day,
    per-source, per-tenant) at one-table-scan cost.

    The reference ships ad-hoc grouped validators (GroupedRecentData,
    freshness.py:211; DuplicateWithinGroup) but no general per-segment
    suite; this generalizes the fused-suite design (reference
    base.py:2309-2471 batch execution) by swapping the global ``agg`` for
    ``groupBy(group_col).agg`` — same compiled expressions, one shuffle
    keyed on the segment, map-side partial aggregation. At 100 TB the
    alternative (N filtered ``check()`` calls) is N full scans.

    Only spec-compiled expression validators are supported — that is the
    point: the suite must compile to aggregate expressions to fuse.
    Driver-loop validators raise. Evidence phases are not run (results
    are BOOLEAN_ONLY shaped). One collected row of scalars per group;
    ``max_groups`` bounds the driver (a mistyped high-cardinality group
    column raises instead of OOMing).

    Returns {group_value: ValidationRunResult}."""
    df = to_dataframe(data, spark)
    if group_col not in df.columns:
        raise ValueError(f"group column {group_col!r} not in DataFrame")
    vs = resolve(validators)
    from truthound_spark.core.base import Validator as _V

    unsupported = [
        getattr(v, "name", type(v).__name__)
        for v in vs
        if type(v).validate is not _V.validate
    ]
    if unsupported:
        raise ValueError(
            "check_grouped supports expression (spec-compiled) validators "
            f"only; these run driver-side loops: {unsupported}"
        )
    # compile against the non-group columns so auto-targeting validators
    # never gate the segment key itself; a suite re-run on the same schema
    # reuses each validator's compiled specs
    body = df.drop(group_col)
    compiled, agg_cols, compile_errors = _compile_suite(vs, body)
    rows = df.groupBy(group_col).agg(*agg_cols).limit(max_groups + 1).collect()
    if len(rows) > max_groups:
        raise ValueError(
            f"check_grouped: more than {max_groups} groups in {group_col!r}; "
            "raise max_groups or use a coarser segment key"
        )
    out: dict[Any, ValidationRunResult] = {}
    for r in rows:
        rowd = r.asDict()
        n = int(rowd["__row_count"])
        issues: list[ValidationIssue] = []
        for prefix, spec in compiled:
            metrics = spec.metrics_from_row(prefix, rowd)
            issue = spec.evaluate(metrics, n)
            if issue is not None:
                issues.append(issue)
        if min_severity is not None:
            issues = [i for i in issues if i.severity >= min_severity]
        out[r[group_col]] = ValidationRunResult(
            issues=issues,
            execution_issues=list(compile_errors),
            source="dataframe",
            row_count=n,
            column_count=len(body.columns),
            execution_mode="grouped",
            checks_run=len(compiled),
        )
    return out


__all__ = ["check", "check_grouped", "get_spark"]
