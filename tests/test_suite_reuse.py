"""Suite reuse: ``specs(df)`` is a pure function of a validator's
parameters and the frame's schema, so the executor compiles each
validator once per schema and reuses its aggregate Columns on every later
frame (each micro-batch of a stream)."""

import datetime as dt
import re

import pytest
from pyspark.sql import functions as F

import truthound_spark as th
import truthound_spark.validators  # noqa: F401  (registers every validator)
from truthound_spark.core import executor
from truthound_spark.core.registry import _REGISTRY
from truthound_spark.streaming.validate import StreamingValidationSink
from truthound_spark.validators.completeness import NullValidator
from truthound_spark.validators.corpus import EmbeddingHealthValidator
from truthound_spark.validators.distribution import RangeValidator
from truthound_spark.validators.table import TableRowCountCompareValidator

SCHEMA = (
    "id long, name string, email string, amount double, qty int, "
    "ts timestamp, day date, flag boolean, embedding array<double>, "
    "category string, text string"
)


def _rows(k):
    return [
        (
            i * k,
            f"n{i}",
            f"u{i}@x.com" if i % 3 else "bad",
            float(i * k),
            i % (5 + k),
            dt.datetime(2024, 1, 1) + dt.timedelta(hours=i * k),
            dt.date(2024, 1, 1) + dt.timedelta(days=i * k),
            bool(i % 2),
            [float(i)] * (k + 1),
            "abc"[i % 3] * k,
            f"doc {i} " * k,
        )
        for i in range(20)
    ]


@pytest.fixture(scope="module")
def frames(spark):
    a = spark.createDataFrame(_rows(1), SCHEMA)
    b = spark.createDataFrame(_rows(3), SCHEMA)
    return a, b


def _default_validators():
    out = []
    for name, cls in sorted(_REGISTRY.items()):
        try:
            out.append((name, cls()))
        except Exception:  # needs arguments: no default construction
            pass
    return out


def _specs_and_jobs(spark, validator, df, group):
    sc = spark.sparkContext
    sc.setJobGroup(group, "specs purity")
    try:
        specs = validator.specs(df)
    finally:
        sc.setJobGroup("test_suite_reuse.other", "")
    return specs, list(sc.statusTracker().getJobIdsForGroup(group))


def _rendered(specs):
    text = [
        str(c._jc)
        for i, spec in enumerate(specs)
        for c in spec.agg_columns(f"p{i}")
    ]
    # higher-order functions draw a fresh lambda variable name (x_17) per
    # call; rename them in order of appearance before comparing
    names: dict[str, str] = {}
    return [
        re.sub(
            r"\b[a-z]+_\d+\b",
            lambda m: names.setdefault(m.group(0), f"λ{len(names)}"),
            t,
        )
        for t in text
    ]


def test_every_default_specs_is_pure(spark, frames):
    a, b = frames
    validators = _default_validators()
    assert len(validators) >= 40
    compiled = 0
    for i, (name, v) in enumerate(validators):
        try:
            specs_a, jobs_a = _specs_and_jobs(spark, v, a, f"purity.{i}.a")
        except Exception:
            continue  # does not apply to the test frames
        specs_b, jobs_b = _specs_and_jobs(spark, v, b, f"purity.{i}.b")
        assert jobs_a == [] and jobs_b == [], f"{name}.specs() started a Spark job"
        assert _rendered(specs_a) == _rendered(specs_b), name
        compiled += bool(specs_a)
    assert compiled >= 30


def test_compiled_once_per_schema(spark, frames, monkeypatch):
    a, b = frames
    v = NullValidator(["name", "qty"])
    calls = []
    orig = NullValidator.specs
    monkeypatch.setattr(
        NullValidator, "specs", lambda self, df: calls.append(1) or orig(self, df)
    )
    first = th.check(a, validators=[v])
    second = th.check(b, validators=[v])
    assert len(calls) == 1
    assert first.row_count == second.row_count == 20
    # a schema change recompiles
    th.check(b.withColumn("extra", F.lit(1)), validators=[v])
    assert len(calls) == 2
    # the memo keeps one entry per instance: the latest schema only
    assert executor._COMPILED[v].schema == b.withColumn("extra", F.lit(1)).schema


def test_mutated_parameter_changes_next_result(spark, frames):
    a, _ = frames
    v = RangeValidator("amount", 0.0, 100.0)
    assert th.check(a, validators=[v]).success
    v.max_value = 10.0
    res = th.check(a, validators=[v])
    assert {(i.issue_type, i.column, i.count) for i in res.issues} == {
        ("out_of_range", "amount", 9)
    }


def test_schema_change_recompiles(spark, frames):
    a, _ = frames
    v = NullValidator()  # targets every column of the frame
    narrow = a.select("id", F.lit(None).cast("string").alias("gap"))
    assert th.check(a, validators=[v]).success
    res = th.check(narrow, validators=[v])
    assert {(i.column, i.count) for i in res.issues} == {("gap", 20)}


def test_validator_holding_a_column_is_compiled_every_call(spark, frames):
    a, _ = frames
    v = NullValidator(["name"])
    v.probe = F.col("name")  # not a plain value: no reuse
    th.check(a, validators=[v])
    assert v not in executor._COMPILED


def test_embedding_health_without_expected_dim_sees_fresh_data(spark):
    v = EmbeddingHealthValidator()
    two = spark.createDataFrame(
        [(1, [1.0, 2.0]), (2, [1.0, 2.0]), (3, [1.0, 2.0, 3.0])],
        "vec_id long, embedding array<double>",
    )
    three = spark.createDataFrame(
        [(1, [1.0, 2.0, 3.0]), (2, [1.0, 2.0, 3.0]), (3, [4.0, 5.0]), (4, [6.0, 7.0])],
        "vec_id long, embedding array<double>",
    )
    for df, mismatched in ((two, 1), (three, 2), (two, 1)):
        res = th.check(df, validators=[v])
        counts = {i.issue_type: i.count for i in res.issues}
        assert counts == {"dim_mismatch": mismatched}


def test_row_count_compare_with_dataframe_reference_sees_fresh_data(spark, frames):
    a, _ = frames
    v = TableRowCountCompareValidator(spark.range(20), "equal")
    assert th.check(a, validators=[v]).success
    assert not th.check(a.limit(7), validators=[v]).success
    v.reference_table = spark.range(7)
    assert th.check(a.limit(7), validators=[v]).success
    assert not th.check(a, validators=[v]).success


def test_row_count_compare_issue_shape(spark, frames):
    a, _ = frames
    (issue,) = th.check(
        a, validators=[TableRowCountCompareValidator(21, "greater_equal")]
    ).issues
    assert issue.issue_type == "table_row_count_compare_failed"
    assert (issue.actual, issue.count, issue.expected) == (
        20, 0, "row count greater_equal 21"
    )


def test_sink_resolves_names_once(spark, frames):
    a, b = frames
    sink = StreamingValidationSink(["null"])
    (v,) = sink.validators
    assert isinstance(v, NullValidator)
    sink(a, 0)
    sink(b, 1)
    assert sink.validators[0] is v and v in executor._COMPILED


def test_sink_replay_memory_is_bounded(spark):
    df = spark.range(3)
    sink = StreamingValidationSink([NullValidator()], max_results=5)
    for k in range(5 + 100):
        sink(df, k)
    assert len(sink._seen_batches) <= sink.max_results
    assert len(sink.results) == 5
    # Structured Streaming replays the last uncommitted batch: still skipped
    sink(df, 104)
    assert [bid for bid, _ in sink.results] == [100, 101, 102, 103, 104]
