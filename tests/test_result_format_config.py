"""ResultFormatConfig per-field evidence knobs (reference types.py:95-174)."""

from __future__ import annotations

import pytest

import truthound_spark as th
from truthound_spark.core.executor import BatchExpressionExecutor
from truthound_spark.types import ResultFormat, ResultFormatConfig
from truthound_spark.validators.distribution import RangeValidator


@pytest.fixture()
def bad_df(spark):
    return spark.createDataFrame(
        [(float(v),) for v in [1, 2, 200, 300, 400, 500]], "v double"
    )


def test_from_any_normalization():
    assert ResultFormatConfig.from_any(None).format == ResultFormat.SUMMARY
    assert ResultFormatConfig.from_any("basic").format == ResultFormat.BASIC
    assert ResultFormatConfig.from_any(ResultFormat.COMPLETE).format == ResultFormat.COMPLETE
    cfg = ResultFormatConfig(format=ResultFormat.BASIC)
    assert ResultFormatConfig.from_any(cfg) is cfg
    with pytest.raises(ValueError):
        ResultFormatConfig.from_any("nope")
    with pytest.raises(TypeError):
        ResultFormatConfig.from_any(3.14)


def test_validation_and_replace():
    with pytest.raises(ValueError):
        ResultFormatConfig(partial_unexpected_count=-1)
    with pytest.raises(ValueError):
        ResultFormatConfig(max_unexpected_rows=0)
    cfg = ResultFormatConfig().replace(format="complete", max_unexpected_rows=5)
    assert cfg.format == ResultFormat.COMPLETE and cfg.max_unexpected_rows == 5
    assert cfg.includes_full_results()


def test_partial_unexpected_count_caps_samples(bad_df):
    cfg = ResultFormatConfig(format=ResultFormat.BASIC, partial_unexpected_count=2)
    ex = BatchExpressionExecutor([RangeValidator("v", 0, 100)], result_format=cfg)
    issues = ex.execute(bad_df)
    assert len(issues) == 1 and len(issues[0].sample_values) == 2


def test_include_unexpected_rows_below_complete(bad_df):
    cfg = ResultFormatConfig(
        format=ResultFormat.BASIC, include_unexpected_rows=True, max_unexpected_rows=3
    )
    ex = BatchExpressionExecutor([RangeValidator("v", 0, 100)], result_format=cfg)
    issues = ex.execute(bad_df)
    assert issues[0].result is not None
    assert len(issues[0].result.unexpected_rows) == 3


def test_unexpected_index_and_debug_query(bad_df):
    cfg = ResultFormatConfig(
        format=ResultFormat.COMPLETE,
        include_unexpected_index=True,
        return_debug_query=True,
    )
    ex = BatchExpressionExecutor([RangeValidator("v", 0, 100)], result_format=cfg)
    issues = ex.execute(bad_df)
    res = issues[0].result
    assert res is not None and res.unexpected_rows
    assert all("__row_index" in r for r in res.unexpected_rows)
    assert res.debug_query and "v" in res.debug_query


def test_check_accepts_config(bad_df):
    cfg = ResultFormatConfig(format=ResultFormat.COMPLETE, max_unexpected_rows=2)
    r = th.check(bad_df, validators=[RangeValidator("v", 0, 100)], result_format=cfg)
    assert not r.success
    assert len(r.issues[0].result.unexpected_rows) == 2


def test_legacy_enum_and_sample_limit_still_work(bad_df):
    ex = BatchExpressionExecutor(
        [RangeValidator("v", 0, 100)], result_format=ResultFormat.BASIC
    )
    issues = ex.execute(bad_df)
    assert len(issues[0].sample_values) == 4  # every bad value, under the default 20
    # the sample size is set on the config
    ex1 = BatchExpressionExecutor(
        [RangeValidator("v", 0, 100)],
        result_format=ResultFormatConfig(
            format=ResultFormat.BASIC, partial_unexpected_count=1
        ),
    )
    assert len(ex1.execute(bad_df)[0].sample_values) == 1
    # boolean-only default: no evidence jobs at all
    ex2 = BatchExpressionExecutor([RangeValidator("v", 0, 100)])
    issues2 = ex2.execute(bad_df)
    assert issues2[0].sample_values == []
