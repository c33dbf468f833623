"""Custom stateful streaming operators via applyInPandasWithState
(reference: the realtime/ state layer — StateStore ABC + accumulators,
realtime/incremental.py:38-160, streaming ECDF/online stats
validators/memory/*; SURVEY §2.10 maps these to applyInPandasWithState).

``running_column_stats`` keeps per-key running count/sum/min/max (+ a
range-violation counter) in the Spark state store across micro-batches —
the engine-native replacement for the reference's CountingAccumulator /
StreamingRange validators. State lives in the built-in (HDFS/RocksDB)
state store: fault-tolerant, exactly-once with checkpointLocation.
"""

from __future__ import annotations

from typing import Any, Iterator

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql import types as T

STATS_STATE_SCHEMA = "count LONG, sum DOUBLE, min DOUBLE, max DOUBLE, violations LONG"
STATS_OUTPUT_SCHEMA = (
    "key LONG, count LONG, mean DOUBLE, min DOUBLE, max DOUBLE, violations LONG"
)


def running_column_stats(
    stream_df: DataFrame,
    key_col: str,
    value_col: str,
    min_value: float | None = None,
    max_value: float | None = None,
) -> DataFrame:
    """Per-key running stats + out-of-range counter with persistent state.

    Returns a streaming DataFrame (key, count, mean, min, max, violations)
    emitting the UPDATED state per key per micro-batch."""

    lo = float("-inf") if min_value is None else float(min_value)
    hi = float("inf") if max_value is None else float(max_value)

    def update(key: Any, pdfs: Iterator["pd.DataFrame"], state: GroupState):
        import pandas as pd

        if state.exists:
            count, total, mn, mx, viol = state.get
        else:
            count, total, mn, mx, viol = 0, 0.0, float("inf"), float("-inf"), 0
        for pdf in pdfs:
            vals = pdf[value_col].dropna()
            if len(vals):
                count += int(len(vals))
                total += float(vals.sum())
                mn = min(mn, float(vals.min()))
                mx = max(mx, float(vals.max()))
                viol += int(((vals < lo) | (vals > hi)).sum())
        state.update((count, total, mn, mx, viol))
        yield pd.DataFrame(
            [
                {
                    "key": key[0],
                    "count": count,
                    "mean": (total / count) if count else None,
                    "min": mn if count else None,
                    "max": mx if count else None,
                    "violations": viol,
                }
            ]
        )

    return (
        stream_df.groupBy(key_col)
        .applyInPandasWithState(
            update,
            outputStructType=STATS_OUTPUT_SCHEMA,
            stateStructType=STATS_STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


NEAR_DEDUP_STATE_SCHEMA = "ids ARRAY<LONG>, sigs ARRAY<STRING>"
NEAR_DEDUP_OUTPUT_SCHEMA = (
    "doc_id LONG, dup_of LONG, est_jaccard DOUBLE, bucket LONG"
)


def streaming_near_dedup(
    stream_df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.7,
    num_hashes: int = 64,
    bands: int = 16,
    max_bucket_size: int = 256,
) -> DataFrame:
    """STREAMING near-duplicate detection: MinHash+LSH with the bucket
    index living in the Spark state store — the continuous-ingest
    complement to the batch ``pipeline.dedup`` path (which needs the
    whole corpus; a crawl firehose doesn't have one yet).

    Per micro-batch: signatures are computed as pure column math (the
    same seeded affine MinHash family as the batch path — signatures are
    comparable ACROSS batch and stream), each doc is keyed into its
    ``bands`` LSH buckets, and ``applyInPandasWithState`` keeps per-bucket
    canonical signatures. An arriving doc whose signature-agreement
    fraction (the unbiased Jaccard estimator) reaches ``threshold``
    against any stored canonical emits an alert row (doc_id, dup_of,
    est_jaccard, bucket); otherwise it becomes a canonical itself.

    Scale/state bounds: state per bucket is at most ``max_bucket_size``
    signatures (beyond the cap, new uniques pass through unstored —
    bounded memory beats silent OOM; size buckets via ``bands`` so
    collisions stay rare). A doc surfaces in up to ``bands`` buckets;
    aggregate alerts by doc_id downstream (min dup_of / max est) for
    one-row-per-dup semantics. Exactly-once with checkpointLocation, as
    with any stateful query.

    Returns the streaming alert DataFrame (append mode)."""
    from truthound_spark.pipeline.dedup import (
        _minhash_coefficients,
        _MERSENNE_31,
        _shingles_of_words,
        words,
    )

    if num_hashes % bands != 0:
        raise ValueError(f"bands={bands} must divide num_hashes={num_hashes}")
    r = num_hashes // bands

    # three-step projection: the words split once, then the shingles
    # read that column (linear — the word_shingles macro re-splits the
    # text per shingle index), then the 64 min-hashes reference the
    # shingle alias (multi-use aliases -> CollapseProject keeps each
    # pipeline from being inlined per use)
    base = stream_df.select(
        F.col(id_col).cast("long").alias("doc_id"),
        words(F.col(text_col)).alias("__w"),
    ).select("doc_id", _shingles_of_words(F.col("__w"), 3).alias("__sh"))
    # drop the empty shingle '' (null/whitespace-only docs) BEFORE hashing:
    # otherwise every contentless doc shares one signature and a single
    # giant bucket accretes in the state store (same rationale as
    # dedup._signatures)
    hashed = base.select(
        "doc_id",
        F.transform(
            F.filter("__sh", lambda s: s != F.lit("")), lambda s: F.xxhash64(s)
        ).alias("__hv"),
    )
    coeffs = _minhash_coefficients(num_hashes)

    def _affine(a: int, b: int):
        # closure factory, NOT lambda-with-default-args: PySpark counts the
        # lambda's parameters to build the HOF variable list, so defaults
        # would masquerade as extra lambda variables
        return lambda h: F.pmod(
            F.lit(a) * F.pmod(h, F.lit(_MERSENNE_31)) + F.lit(b),
            F.lit(_MERSENNE_31),
        )

    sig = F.array(
        *[F.array_min(F.transform("__hv", _affine(a, b))) for a, b in coeffs]
    )
    signed = hashed.filter(F.size("__hv") > 0).select("doc_id", sig.alias("__sig"))
    buckets = F.array(
        *[
            F.xxhash64(
                F.lit(b),
                F.concat_ws(
                    ",",
                    F.transform(
                        F.slice("__sig", b * r + 1, r), lambda x: x.cast("string")
                    ),
                ),
            )
            for b in range(bands)
        ]
    )
    exploded = signed.select(
        "doc_id",
        F.concat_ws(",", F.transform("__sig", lambda x: x.cast("string"))).alias(
            "__sigstr"
        ),
        F.explode(buckets).alias("bucket"),
    )

    thr = float(threshold)
    cap = int(max_bucket_size)
    nh = int(num_hashes)

    def update(key: Any, pdfs: Iterator["pd.DataFrame"], state: GroupState):
        import pandas as pd

        if state.exists:
            ids, sigstrs = state.get
            ids = list(ids)
            sigs = [[int(x) for x in s.split(",")] for s in sigstrs]
        else:
            ids, sigs = [], []
        out = []
        # concatenate ALL chunks of the micro-batch before sorting: the
        # iterator's chunk boundaries are arbitrary, so a per-chunk sort
        # would make canonical selection (and dup_of/est_jaccard) depend
        # on chunking — nondeterministic across reruns/retries of the
        # same batch (ADVICE r4)
        chunks = [pdf for pdf in pdfs if len(pdf)]
        if chunks:
            whole = pd.concat(chunks, ignore_index=True)
            for _, row in whole.sort_values("doc_id").iterrows():
                sg = [int(x) for x in row["__sigstr"].split(",")]
                best = None
                for cid, cs in zip(ids, sigs):
                    if cid == row["doc_id"]:
                        continue
                    m = sum(1 for x, y in zip(sg, cs) if x == y) / nh
                    if m >= thr and (best is None or m > best[1]):
                        best = (cid, m)
                if best is not None:
                    out.append(
                        {
                            "doc_id": int(row["doc_id"]),
                            "dup_of": int(best[0]),
                            "est_jaccard": float(best[1]),
                            "bucket": int(key[0]),
                        }
                    )
                elif len(ids) < cap:
                    ids.append(int(row["doc_id"]))
                    sigs.append(sg)
        state.update((ids, [",".join(str(x) for x in s) for s in sigs]))
        if out:
            yield pd.DataFrame(out)

    return exploded.groupBy("bucket").applyInPandasWithState(
        update,
        outputStructType=NEAR_DEDUP_OUTPUT_SCHEMA,
        stateStructType=NEAR_DEDUP_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


PROFILE_STATE_SCHEMA = (
    "n LONG, nn LONG, sum DOUBLE, sum2 DOUBLE, min DOUBLE, max DOUBLE"
)
PROFILE_OUTPUT_SCHEMA = (
    "column STRING, n LONG, nn LONG, sum DOUBLE, sum2 DOUBLE,"
    " min DOUBLE, max DOUBLE, mean DOUBLE, std DOUBLE"
)


def streaming_incremental_profile(
    stream_df: DataFrame, columns: list[str]
) -> DataFrame:
    """Incremental table profile with per-COLUMN mergeable partials in
    the state store (the streaming form of profiler/incremental.py's
    partial_profile/merged_stats contract; reference
    realtime/incremental.py:38-160 incremental accumulation).

    Each micro-batch's rows are unpivoted to (column, value) pairs —
    one narrow shuffle keyed by column name, O(columns) state groups
    regardless of data volume — and every column's group merges the
    batch-local partial (n, nn, sum, sum2, min, max) into its persisted
    state with EXACTLY the algebra merged_stats uses for batch partials:
    sums add, extremes min/max, derived mean/std recomputed from the
    merged sums. Emits the UPDATED cumulative profile row per column per
    micro-batch, so after K batches the latest emission per column must
    equal the whole-history single-pass profile — the mergeable-partials
    contract, certified across a REAL micro-batch boundary by the
    ``streaming_incremental_profile_customer`` oracle slot.

    State is O(columns) scalars: fault-tolerant, exactly-once with
    checkpointLocation, and independent of row volume — the property
    that lets one profile run forever over an unbounded stream."""
    pairs = stream_df.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(c).alias("column"),
                        F.col(c).cast("double").alias("v"),
                    )
                    for c in columns
                ]
            )
        ).alias("p")
    ).select("p.column", "p.v")

    def update(key: Any, pdfs: Iterator["pd.DataFrame"], state: GroupState):
        import math

        import pandas as pd

        if state.exists:
            n, nn, s, s2, mn, mx = state.get
        else:
            n, nn, s, s2, mn, mx = 0, 0, 0.0, 0.0, float("inf"), float("-inf")
        for pdf in pdfs:
            n += int(len(pdf))
            vals = pdf["v"].dropna()
            if len(vals):
                nn += int(len(vals))
                s += float(vals.sum())
                s2 += float((vals * vals).sum())
                mn = min(mn, float(vals.min()))
                mx = max(mx, float(vals.max()))
        state.update((n, nn, s, s2, mn, mx))
        mean = (s / nn) if nn else None
        std = None
        if nn > 1:
            var = max(0.0, (s2 - s * s / nn) / (nn - 1))
            std = math.sqrt(var)
        yield pd.DataFrame(
            [
                {
                    "column": key[0],
                    "n": n,
                    "nn": nn,
                    "sum": s if nn else None,
                    "sum2": s2 if nn else None,
                    "min": mn if nn else None,
                    "max": mx if nn else None,
                    "mean": mean,
                    "std": std,
                }
            ]
        )

    return pairs.groupBy("column").applyInPandasWithState(
        update,
        outputStructType=PROFILE_OUTPUT_SCHEMA,
        stateStructType=PROFILE_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
