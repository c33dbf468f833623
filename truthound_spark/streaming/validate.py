"""Structured Streaming validation (replaces BOTH reference streaming
layers — SURVEY §2.10: validators/streaming chunked out-of-core validation
and realtime/ micro-batch windows/watermark/state).

Spark mapping (1:1 per SURVEY §2.10):
  tumbling/sliding windows → F.window(ts, size, slide)
  session windows          → F.session_window(ts, gap)
  watermark + lateness     → df.withWatermark(ts, delay)
  state stores             → built-in HDFS/RocksDB state store
  exactly-once             → checkpointLocation + idempotent sink
  per-batch validator reuse→ foreachBatch(run_suite)
"""

from __future__ import annotations

from collections import OrderedDict
from typing import Any, Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from truthound_spark.core.results import ValidationRunResult


class StreamingValidationSink:
    """foreachBatch sink that runs a validator suite on every micro-batch
    (reference: realtime/base.py:369-551 validate_batch/validate_stream).

    Results accumulate in-memory and stream to ``on_result`` (the checkpoint
    action surface: alerting/webhooks in the reference). Names and classes
    in ``validators`` become instances once, here, so every batch reuses
    the same compiled suite."""

    def __init__(
        self,
        validators: list[Any],
        on_result: Callable[[int, ValidationRunResult], None] | None = None,
        max_results: int = 1000,
    ) -> None:
        import truthound_spark.validators  # noqa: F401  (registers the names)
        from truthound_spark.core.registry import resolve

        self.validators = resolve(validators)
        self.on_result = on_result
        self.max_results = max_results
        self.results: list[tuple[int, ValidationRunResult]] = []
        # the latest batch ids, oldest first, capped like ``results``
        self._seen_batches: OrderedDict[int, None] = OrderedDict()

    def __call__(self, batch_df: DataFrame, batch_id: int) -> None:
        from truthound_spark.api import check

        # idempotence: Structured Streaming REPLAYS the last uncommitted
        # batch (same batch_id) after failure recovery — re-validating and
        # re-alerting it would duplicate notifications
        if batch_id in self._seen_batches:
            return
        self._seen_batches[batch_id] = None
        if len(self._seen_batches) > max(self.max_results, 1):
            self._seen_batches.popitem(last=False)
        result = check(batch_df, validators=self.validators)
        self.results.append((batch_id, result))
        if len(self.results) > self.max_results:  # bound driver memory on
            del self.results[: -self.max_results]  # long-lived queries
        if self.on_result is not None:
            self.on_result(batch_id, result)


def validate_stream(
    stream_df: DataFrame,
    validators: list[Any],
    checkpoint_location: str,
    on_result: Callable[[int, ValidationRunResult], None] | None = None,
    trigger_seconds: int | None = None,
    query_name: str = "truthound_validation",
):
    """Attach micro-batch validation to a streaming DataFrame.

    Exactly-once bookkeeping comes from checkpointLocation; the sink itself
    is idempotent per batch_id (reference realtime/processing/
    exactly_once.py's dedup/idempotency → native here)."""
    sink = StreamingValidationSink(validators, on_result)
    writer = (
        stream_df.writeStream.foreachBatch(sink)
        .option("checkpointLocation", checkpoint_location)
        .queryName(query_name)
    )
    if trigger_seconds:
        writer = writer.trigger(processingTime=f"{trigger_seconds} seconds")
    return writer.start(), sink


def windowed_counts(
    df: DataFrame,
    ts_col: str,
    window_duration: str = "5 minutes",
    slide: str | None = None,
    session_gap: str | None = None,
    watermark_delay: str = "10 minutes",
    group_by: list[str] | None = None,
    agg_exprs: dict[str, Any] | None = None,
) -> DataFrame:
    """Windowed aggregation (works on both batch and streaming frames).

    tumbling (slide=None), sliding, or session (session_gap) windows;
    on a streaming frame the watermark bounds state and drops late data
    (reference realtime/processing/windows.py:30-57 window types +
    watermark :341-350)."""
    if df.isStreaming:
        df = df.withWatermark(ts_col, watermark_delay)
    if session_gap is not None:
        win = F.session_window(F.col(ts_col), session_gap)
    elif slide is not None:
        win = F.window(F.col(ts_col), window_duration, slide)
    else:
        win = F.window(F.col(ts_col), window_duration)
    keys = [win] + [F.col(c) for c in (group_by or [])]
    aggs = agg_exprs or {"count": F.count(F.lit(1))}
    return df.groupBy(*keys).agg(*[v.alias(k) for k, v in aggs.items()])
