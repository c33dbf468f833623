"""Segmented validation: check_grouped runs one suite per group/segment
in a SINGLE grouped aggregate (generalizes the fused-suite design,
reference base.py:2309-2471; the reference's only grouped validators are
ad-hoc — GroupedRecentData freshness.py:211, DuplicateWithinGroup)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from truthound_spark.api import check, check_grouped
from truthound_spark.validators.completeness import NullValidator
from truthound_spark.validators.distribution import RangeValidator
from truthound_spark.validators.aggregate import MeanBetweenValidator


@pytest.fixture(scope="module")
def seg(spark):
    # 3 segments: "a" clean, "b" has nulls, "c" has range violations
    rows = []
    for i in range(300):
        g = "abc"[i % 3]
        v = None if (g == "b" and i % 6 == 1) else float(i % 50)
        if g == "c" and i % 9 == 2:
            v = 999.0
        rows.append((g, i, v))
    return spark.createDataFrame(rows, "g string, id long, v double").cache()


def test_check_grouped_matches_per_group_check(seg):
    suite = [NullValidator("v"), RangeValidator("v", 0, 100)]
    grouped = check_grouped(seg, "g", suite)
    assert sorted(grouped) == ["a", "b", "c"]
    for g in "abc":
        solo = check(seg.filter(F.col("g") == g).drop("g"), validators=suite)
        gr = grouped[g]
        assert gr.row_count == solo.row_count
        assert gr.success == solo.success
        a = sorted((i.issue_type, i.column, i.count) for i in gr.issues)
        b = sorted((i.issue_type, i.column, i.count) for i in solo.issues)
        assert a == b
    assert not grouped["a"].issues
    assert any(i.issue_type == "null_values" for i in grouped["b"].issues)
    assert any(i.issue_type == "out_of_range" for i in grouped["c"].issues)


def test_check_grouped_judge_specs(seg):
    # judge-based (scalar-comparison) specs evaluate per group too
    grouped = check_grouped(seg, "g", [MeanBetweenValidator("v", 0, 40)])
    assert grouped["c"].success is False  # 999s pull the mean above 40
    assert grouped["a"].success is True


def test_check_grouped_rejects_driver_loop_validators(seg):
    from truthound_spark.core.base import Validator

    class Looper(Validator):
        name = "looper"

        def validate(self, df, row_count=None):  # driver-side loop
            return []

    with pytest.raises(ValueError, match="driver-side"):
        check_grouped(seg, "g", [Looper()])


def test_check_grouped_guards(seg, spark):
    with pytest.raises(ValueError, match="not in DataFrame"):
        check_grouped(seg, "nope", [NullValidator("v")])
    wide = spark.range(200).select(F.col("id").alias("g"), F.lit(1.0).alias("v"))
    with pytest.raises(ValueError, match="more than"):
        check_grouped(wide, "g", [NullValidator("v")], max_groups=50)


def test_check_grouped_single_job_plan(seg):
    """The whole segmented suite must be ONE grouped aggregate — no
    per-group scans (that is the entire reason this API exists)."""
    suite = [NullValidator("v"), RangeValidator("v", 0, 100)]
    from truthound_spark.core.base import Validator as _V

    vs = [v for v in suite if type(v).validate is _V.validate]
    body = seg.drop("g")
    agg_cols = [F.count(F.lit(1)).cast("long").alias("__row_count")]
    for vi, v in enumerate(vs):
        for si, spec in enumerate(v.specs(body)):
            agg_cols.extend(spec.agg_columns(f"s{vi}_{si}"))
    plan = (
        seg.groupBy("g").agg(*agg_cols)._jdf.queryExecution().executedPlan().toString()
    )
    # one shuffle keyed on the segment, map-side partial aggregation
    assert plan.count("Exchange") <= 1
    assert "partial_count" in plan


def test_check_grouped_reuses_compiled_specs(seg, monkeypatch):
    """A second grouped call on the same schema compiles nothing: each
    validator's specs are reused, as a streamed check reuses them."""
    calls = []
    orig = NullValidator.specs
    monkeypatch.setattr(
        NullValidator, "specs", lambda self, df: calls.append(1) or orig(self, df)
    )
    suite = [NullValidator("v"), RangeValidator("v", 0, 100)]
    first = check_grouped(seg, "g", suite)
    assert calls == [1]
    second = check_grouped(seg, "g", suite)
    assert calls == [1]
    assert {g: (r.success, len(r.issues)) for g, r in first.items()} == {
        g: (r.success, len(r.issues)) for g, r in second.items()
    }
