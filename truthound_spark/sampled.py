"""Sampled validation with confidence intervals — the cheap pre-check.

At 100 TB a full fused suite is one scan, but one scan of 100 TB is
still 100 TB of IO. When the question is "is this table roughly
healthy?" (a pre-gate before an expensive pipeline stage, a fast
smoke check on an unfamiliar table), a deterministic sample plus a
confidence interval answers it at 1/20th the IO with quantified
uncertainty — the estimate comes back as a ratio plus a Wilson score
interval, so the caller can distinguish "clean at 95% confidence"
from "inconclusive, run the full scan".

Reference analog: the DataSource factory's ``sample`` / ``max_rows``
options (src/truthound/datasources/base.py) subsample for PROFILING;
this module adds what a distributed engine can do with that idea —
run the SAME compiled ExpressionSpecs (one fused aggregate, same as
the full path) over a deterministic sample and return per-check
interval estimates instead of point failures.

Three sampling modes, with an honest cost model:

* ``key_col`` mode — ``key % modulus == residue``: reproducible across
  engines and runs (the certification oracle replays it in SQL). Saves
  the AGGREGATION work (regex-heavy format checks, wide expression
  batteries), NOT scan IO — a pmod predicate is neither pushable nor
  prunable, so the scan still reads every row group.
* fraction mode — seeded ``df.sample``: reproducible within Spark, for
  tables with no convenient key. Same cost model: CPU saved, IO not.
* ``level="files"`` — deterministically pick a hash-share of the
  table's parquet FILES and read only those: the mode that actually
  cuts IO at 100 TB. The sample is clustered by file, so intervals
  carry a design effect the caller should treat as approximate;
  row-level modes have clean binomial semantics.
"""

from __future__ import annotations

import math
from typing import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

__all__ = ["wilson_interval", "z_for_confidence", "sampled_check_report"]


# One shared implementation (truthound_spark/stats.py) — the A/B layer
# (profiler/ab_testing.py:_z_for) uses the same kernel, so sampled CIs
# and A/B CIs can never drift apart. Re-exported here for compatibility.
from truthound_spark.stats import z_for_confidence  # noqa: E402


def wilson_interval(
    violations: int, n: int, z: float
) -> tuple[float | None, float | None, float | None]:
    """Wilson score interval for a binomial proportion: (p_hat, lo, hi).

    Chosen over the normal (Wald) interval because validation ratios
    live near 0 — a clean sample gives Wald a degenerate [0, 0] interval
    while Wilson correctly reports e.g. [0, 3.8e-5] at n=100k, which is
    the actual guarantee the pre-check exists to provide.
    """
    if n <= 0:
        return None, None, None
    p = violations / n
    z2 = z * z
    denom = 1.0 + z2 / n
    center = (p + z2 / (2.0 * n)) / denom
    half = (z / denom) * math.sqrt(p * (1.0 - p) / n + z2 / (4.0 * n * n))
    return p, max(0.0, center - half), min(1.0, center + half)


_SCHEMA = StructType(
    [
        StructField("check", StringType(), False),
        StructField("column", StringType(), True),
        StructField("sample_rows", LongType(), False),
        StructField("denom", LongType(), False),
        StructField("violations", LongType(), False),
        StructField("ratio", DoubleType(), True),
        StructField("ci_low", DoubleType(), True),
        StructField("ci_high", DoubleType(), True),
    ]
)


def _table_base_path(files: Sequence[str]) -> str:
    """Common ancestor directory of a table's data files, with trailing
    Hive partition segments (``name=value``) stripped.

    Needed because a direct read of leaf files does not run partition
    discovery: without ``basePath`` the partition columns (which live in
    the directory names, not the file footers) come back all-NULL — on a
    partitioned table that silently corrupts any sampled check touching
    a partition column. Stripping trailing ``name=value`` segments keeps
    the base correct even when every sampled file sits under ONE
    partition value (the commonpath would otherwise swallow it)."""
    dirs = sorted({f.rsplit("/", 1)[0] for f in files})
    parts = [d.split("/") for d in dirs]
    common: list[str] = []
    for segs in zip(*parts):
        if all(s == segs[0] for s in segs):
            common.append(segs[0])
        else:
            break
    while common and "=" in common[-1]:
        common.pop()
    return "/".join(common)


def _file_sample(df: DataFrame, share: float, seed: int) -> DataFrame:
    """Read a deterministic hash-share of df's parquet files (≥1 file).

    The only mode that cuts scan IO: row-level sampling still reads
    every row group. Deterministic in (file set, seed) — no RNG.
    ``basePath`` is pinned to the table root so Hive-partitioned tables
    keep their partition columns (see ``_table_base_path``).
    """
    import zlib

    files = sorted(df.inputFiles())
    if not files:
        raise ValueError(
            "level='files' needs a file-backed DataFrame whose scan is "
            "visible in the plan (a cached/derived frame reports no input "
            "files — pass the freshly-read table instead)"
        )
    picked = [
        f
        for f in files
        if (zlib.crc32(f"{f}|{seed}".encode()) % 1_000_000) / 1_000_000.0 < share
    ]
    if not picked:
        picked = [files[zlib.crc32(str(seed).encode()) % len(files)]]
    return (
        df.sparkSession.read.option("basePath", _table_base_path(files))
        .schema(df.schema)
        .parquet(*picked)
    )


def sampled_check_report(
    df: DataFrame,
    validators: Sequence,
    key_col: str | None = None,
    modulus: int = 20,
    residue: int = 3,
    fraction: float = 0.05,
    seed: int = 42,
    confidence: float = 0.95,
    round_to: int | None = 6,
    level: str = "rows",
) -> DataFrame:
    """Estimate each check's violation ratio from a deterministic sample.

    Returns a small DataFrame (one row per ratio-estimable check):
    ``(check, column, sample_rows, denom, violations, ratio, ci_low,
    ci_high)`` — ratio and the Wilson bounds rounded to ``round_to``.
    Checks whose pass/fail is a scalar judge (mean-between etc.) have no
    violation ratio to estimate and are skipped; run those on the full
    table where they cost the same single aggregate.

    Cost: ONE fused aggregate over the sample. Row-level modes
    (``key_col`` / fraction) save aggregation CPU but still scan every
    row group; ``level="files"`` (with ``fraction`` as the file share)
    reads only the sampled files — the genuine IO cut for a 100 TB
    pre-check, at the price of a clustered (per-file) sample whose
    intervals are approximate under within-file correlation.
    """
    from truthound_spark.core.executor import BatchExpressionExecutor  # noqa: F401
    # (import kept for parity with the full path; spec compilation below
    # mirrors BatchExpressionExecutor.execute_with_stats phase 0/1)

    if level not in ("rows", "files"):
        raise ValueError(f"level must be 'rows' or 'files', got {level!r}")
    if level == "files":
        sample = _file_sample(df, fraction, seed)
    elif key_col is not None:
        if modulus < 2:
            raise ValueError(f"modulus must be >= 2, got {modulus}")
        if not 0 <= residue < modulus:
            raise ValueError(f"residue must be in [0, {modulus}), got {residue}")
        sample = df.filter(F.pmod(F.col(key_col), F.lit(modulus)) == residue)
    else:
        sample = df.sample(fraction=fraction, seed=seed)

    z = z_for_confidence(confidence)

    compiled = []
    agg_cols = [F.count(F.lit(1)).cast("long").alias("__rows")]
    for vi, validator in enumerate(validators):
        for si, spec in enumerate(validator.specs(sample)):
            if spec.count_expr is None:
                continue  # scalar-judge check: no ratio to estimate
            prefix = f"s{vi}_{si}"
            compiled.append((prefix, spec))
            agg_cols.append(spec.count_expr.cast("long").alias(f"{prefix}__count"))
            denom = (
                spec.non_null_expr
                if spec.non_null_expr is not None
                else F.count(F.lit(1))
            )
            agg_cols.append(denom.cast("long").alias(f"{prefix}__denom"))

    row = sample.agg(*agg_cols).collect()[0]
    sample_rows = int(row["__rows"])

    out = []
    for prefix, spec in compiled:
        violations = int(row[f"{prefix}__count"] or 0)
        denom = int(row[f"{prefix}__denom"] or 0)
        p, lo, hi = wilson_interval(violations, denom, z)
        out.append(
            (
                spec.name,
                spec.column,
                sample_rows,
                denom,
                violations,
                None if p is None else (p if round_to is None else round(p, round_to)),
                None if lo is None else (lo if round_to is None else round(lo, round_to)),
                None if hi is None else (hi if round_to is None else round(hi, round_to)),
            )
        )
    spark = df.sparkSession
    return spark.createDataFrame(out, _SCHEMA)
