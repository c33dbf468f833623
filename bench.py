"""Benchmark harness: headline engine workloads at $SPARK_GRAFT_SF_DIR.

Reproduces the BASELINE.md workload shapes (null / unique / range / schema /
mixed fused suite) at scale factor 0.1 plus the pipeline/drift/join headline
operators, on local[$SPARK_GRAFT_CPUS]. Prints ONE JSON line:
{"metric": "suite_seconds", "value": N, "unit": "sec", "queries": {...}, "sf": ...}
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")


def make_spark():
    from pyspark.sql import SparkSession

    return (
        SparkSession.builder.master(f"local[{CPUS}]")
        .appName("truthound_spark_bench")
        .config("spark.sql.shuffle.partitions", CPUS)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "24g"))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )


def _check_dedup_index_version(spark, lsh_table: str) -> None:
    """Raise unless the persisted LSH index's banding version matches the
    live banding function (``DEDUP_INDEX_VERSION``) — attach-first runs
    must fall back to a fresh write when a sidecar predates a banding
    change, exactly like ``incremental_dedup_indexed`` itself refuses a
    stale index at probe time."""
    import json as _json

    from truthound_spark.pipeline.dedup import DEDUP_INDEX_VERSION

    rows = spark.sql(
        f"SHOW TBLPROPERTIES {lsh_table} ('truthound.dedup.meta')"
    ).collect()
    if not rows or "does not have property" in str(rows[0]):
        raise ValueError(f"{lsh_table}: no dedup meta")
    if int(_json.loads(rows[0]["value"]).get("version", 1)) != DEDUP_INDEX_VERSION:
        raise ValueError(f"{lsh_table}: stale banding version")


def bench_one(name, fn, timings, cold_timings):
    """Cold pass + MEDIAN of three warm passes (r8 protocol, VERDICT r7
    #2): best-of-2 on a VM whose identical runs vary 2× made the series
    unattributable — r7's driver read tag_documents_fused at 8.9s while a
    same-code re-run read 5.4s. The median of three warm passes is robust
    to one outlier in EITHER direction, and the full per-pass samples go
    to bench_detail.json (``queries_warm_samples``) so any future
    regression claim can check the spread before blaming a commit. The
    cold first pass still rides along in ``queries_cold`` (ADVICE r3) —
    comparisons to pre-r8 rounds should expect medians ≳ the old
    best-ofs by construction, not read that as a slowdown."""
    t0 = time.time()
    fn()
    cold_timings[name] = round(time.time() - t0, 4)
    warm = []
    for _ in range(3):
        t0 = time.time()
        fn()
        warm.append(time.time() - t0)
    # Warm-sample spread guard (VERDICT r9 #1): a 3-sample series like
    # [13.6, 3.74, 0.78] — a 17× spread across supposedly-warm passes of
    # byte-identical code — means one pass paid effects that aren't the
    # query (cold page cache/codegen on the first pass, or contention
    # arriving mid-series). Such a series must never median into a
    # recorded pin. When max/min > 3×, take ONE extra pass and drop the
    # SLOWEST sample of the four — that covers both the cold-first case
    # ([13.6,3.7,0.8] drops 13.6) and the late-contention case
    # ([0.8,0.79,3.2] drops 3.2, where dropping the first would median
    # the contention INTO the pin); the raw pre-drop series is preserved
    # in bench_detail.json["spread_guard"]["applied"] for auditability.
    if spread_guard_triggers(warm):
        t0 = time.time()
        fn()
        warm.append(time.time() - t0)
        SPREAD_GUARD_APPLIED[name] = [round(x, 4) for x in warm]
        warm = apply_spread_guard(warm)
    WARM_SAMPLES[name] = [round(x, 4) for x in warm]
    timings[name] = round(sorted(warm)[1], 4)
    # VERDICT r13 #3: dedup-family entries leave tracked
    # MEMORY_AND_DISK blocks behind; across ~40 entries those
    # accumulate and plausibly feed the page-cache pollution the lane
    # canaries attributed (SCALING.md core-decade swings). Release
    # after EVERY entry — a no-op (returns 0) for non-dedup entries,
    # and each entry is self-contained so nothing downstream reuses a
    # prior entry's cache.
    _release_caches()


def _release_caches():
    try:
        from truthound_spark.pipeline.dedup import release_dedup_caches

        release_dedup_caches()
    except Exception:
        pass


WARM_SAMPLES: dict[str, list[float]] = {}
SPREAD_GUARD_RATIO = 3.0
SPREAD_GUARD_APPLIED: dict[str, list[float]] = {}


def spread_guard_triggers(warm: list[float]) -> bool:
    """True when the warm series' max/min spread exceeds the guard ratio
    (one pass paid effects that aren't the query)."""
    return min(warm) > 0 and max(warm) / min(warm) > SPREAD_GUARD_RATIO


def apply_spread_guard(samples: list[float]) -> list[float]:
    """Drop the single slowest sample of the (extra-pass-extended)
    series — covers both a still-cold first pass AND late-arriving
    contention (dropping the FIRST sample would median late contention
    INTO the pin). Pure so tests can pin the rule."""
    return sorted(samples)[: len(samples) - 1]

# Adjudicated bench_regressions pins (VERDICT r8 #2): queries whose
# ratio vs the historical per-query minimum exceeds 1.5 but whose cause
# was bisected to the environment, not a commit. Each entry names the
# evidence; the dispositions ride bench_detail.json so the series stays
# attributable without re-litigating sub-second fixed-overhead queries
# every round.
REGRESSION_DISPOSITIONS = {
    "dedup_clusters_documents": (
        "intentional r12 trade, measured at both ends: the verify-stage "
        "candidate attaches are now size-gated (persist+count the pair "
        "relation, broadcast only under a byte budget — VERDICT r11 #1). "
        "The count materialization costs ~+0.7 s at sf0.1 (A/B vs the "
        "pre-gate module, idle machine 2026-08-16: old 4.84 s median "
        "[4.26,4.84,4.96] vs new 5.55 s [5.34,5.55,5.8]) and buys -20 s "
        "AND removes the 8 GB broadcast ceiling at sf10 (forced-broadcast "
        "82.8 s vs gated 62.4 s, SCALING.md r12). Toy-scale fixed "
        "overhead accepted for the scale win. The residual r14 gap vs "
        "the 4.08 pin is the VM class, not code: the r14 join-experiment "
        "isolated medians on this box (7.47-8.15 s, OPTIMIZATION_r14.md) "
        "match the in-suite reading, and the entry is shuffle-bound on a "
        "box whose shuffle canary reads ~0.9 s — the pin's box was "
        "bandwidth-faster in exactly the dimension the CPU-canary "
        "normalization cannot correct."
    ),
    "minhash_dedup_documents": (
        "same r12 size-gate trade as dedup_clusters_documents (shared "
        "verify stage): ~+0.6 s at sf0.1 from the pair-relation "
        "persist+count, 25% faster and ceiling-free at sf10."
    ),
    "null_suite": (
        "environmental: NullValidator/BatchExpressionExecutor byte-"
        "identical since r2 (232745d lineage; zero r10/r11 commits touch "
        "completeness.py or the executor's agg path). Idle-machine "
        "bisection 2026-08-16: cold 0.98 then warm [0.586, 0.439, 0.429, "
        "0.539, 0.435] — median 0.44, matching the 0.424 pin. The r12 "
        "bracket TRIPLE then attributed the in-bench excursions: a clean "
        "full run read canary start 0.577 / mid 0.389 / end 0.399 — the "
        "run's FIRST phase (right after the relayout writes + warmups, "
        "where null_suite is the first recorded query) is systematically "
        "~1.5x slower while the machine is otherwise idle. Early-slot "
        "queries inherit that phase, not a regression; the mid canary "
        "sample now records it every run."
    ),
    "schema_learn_validate": (
        "environmental, same start-phase class as null_suite: learn()/"
        "validate_against byte-identical (zero r12 commits touch "
        "schema.py); it runs in the suite's FIRST phase, and isolated "
        "idle-machine samples 2026-08-16 show the classic warm-up decay "
        "[1.458, 1.164, 1.010, 0.726, 0.712] settling to the historical "
        "0.6-0.8 pin — a median taken during the decay reads 1.5-2.5x. "
        "The bracket triple records the phase each run."
    ),
    "pushdown_range": (
        "environmental, same class as pushdown_unique: a sub-50ms "
        "in-process DuckDB query whose cross-round series over "
        "byte-identical code (no commit has touched the pushdown query "
        "path since r9's JDBC addition) reads 0.035/0.033/0.027/0.042/"
        "0.028/0.025/0.035/0.057/0.038 s (r2..r12) — a 2.3x max/min "
        "spread from scheduling noise alone. Any ratio against the "
        "0.025 s minimum is dominated by fixed per-call overhead, not "
        "plan or code state."
    ),
    "pushdown_null": (
        "environmental, same class as pushdown_range/pushdown_unique: a "
        "sub-50ms in-process DuckDB call whose r2..r12 series over "
        "byte-identical code reads 0.073/0.016/0.014/0.018/0.014/0.019/"
        "0.020/0.032/0.016 s — a 5x max/min spread from scheduling noise "
        "alone against a 0.0137 s minimum; any ratio is fixed per-call "
        "overhead, not plan state (r14: flagged 1.93 in one of three "
        "same-evening identical-code runs, absent from the other two)."
    ),
    "pushdown_unique": (
        "environmental: DuckDBSource code byte-identical since r2 "
        "(e484adb); idle-machine re-run 2026-08-15 = 0.065-0.082s total "
        "(open 0.005 + register 0.001 + query 0.06), matching the 0.067 "
        "pin; the r8 0.185 median reflects bench-session CPU contention "
        "on an in-process DuckDB query (r3 recorded 0.247 with the same "
        "code)."
    ),
    "global_shuffle_documents": (
        "environmental: global_shuffle and make_spark byte-identical "
        "since r4 (e52aec3/e899411); isolated fresh-session runs "
        "2026-08-15 give 0.36-0.40s on BOTH the raw and 32-way relayout "
        "documents table, so no repo change produces today's number — "
        "the 0.147 pin came from the r4 round-VM under best-of-2. "
        "Fixed overhead (2 stages x 32 tasks) dominates at sf0.1."
    ),
    "learned_thresholds": (
        "environmental: the 2.489 pin is a favorable r9 reading, not a "
        "code state any commit regressed from. Idle-machine code A/B "
        "2026-08-16 (back-to-back fresh sessions, same box): the exact "
        "r9 tree (85bbc5e, the pin's round) medians 3.018 s warm "
        "[3.369, 3.084, 2.776, 2.815, 3.018] while HEAD medians 2.821 s "
        "[3.328, 3.247, 2.821, 2.672, 2.756] — HEAD is FASTER than the "
        "pin's own code isolated, so the r10-r12 3.4-3.9 s series is "
        "suite-position overhead (learned_thresholds runs mid-suite "
        "after ~30 workloads' GC/cache pressure; isolated it never "
        "reads above ~3.4 even cold-adjacent). Stage split identical on "
        "both trees: profile_grouped ~2.7 s = 95% of the runtime, "
        "learn+check ~0.25 s — the one-scan grouped profile IS the "
        "query; plan unchanged. The r12 suspect (7716c64 file-sampling "
        "fix) touches sampled.py/layout.py, which this workload never "
        "imports."
    ),
    "pq_train_search": (
        "environmental (VERDICT r13 #2, dispositioned r14 with the "
        "learned_thresholds evidence standard): same-day alternating "
        "tree A/B 2026-08-16 (benchmarks/isolated_probe.py, bracketed "
        "canary) — the r12 pin tree (d6f7dad, the round that recorded "
        "5.41) medians 7.41 s isolated TODAY [8.14, 7.10, 7.41] at "
        "canary load 1.09, HEAD medians 7.53 s [7.53, 7.65, 6.78] at "
        "load 1.23 — tree parity within 2%, both far above the pin on "
        "today's machine, and the machine's own canary wandered "
        "0.40-0.57 s across four probe runs (±15-25% ambient variance). "
        "Mid-suite position probe: pq AFTER one pass of the five "
        "preceding heavy entries medians 6.61 s — FASTER than isolated "
        "(JIT/executor warm-up dominates position effects), so the "
        "driver-vs-isolated gap is machine state, not suite position or "
        "a commit. The cross-round series [10.1, 6.3, 5.9, 5.7, 8.3, "
        "7.5, 5.4, 7.1] is noise around ~7 with favorable-environment "
        "lows; sf10 improved r12→r13 (10.9 → 9.3 s)."
    ),
    "tumbling_windows_events": (
        "environmental (VERDICT r13 #6 series pin, recorded r14): "
        "isolated A/B 2026-08-16 — pin tree d6f7dad medians 0.188 s "
        "[0.221, 0.187, 0.188], HEAD medians 0.163 s [0.206, 0.163, "
        "0.159]; HEAD is FASTER than the pin tree isolated. A sub-0.25 s "
        "two-stage window aggregate is dominated by fixed scheduling "
        "overhead at sf0.1; the r12→r13 0.17→0.22 drift is scheduling "
        "noise of the same class as pushdown_range."
    ),
    "lof_native_customer": (
        "environmental (VERDICT r13 #6 series pin, recorded r14): "
        "isolated A/B 2026-08-16 — pin tree d6f7dad medians 3.438 s "
        "[3.70, 3.44, 3.39], HEAD medians 3.523 s [3.52, 3.85, 3.37]; "
        "parity within 2.5% on a machine whose canary read 1.23x its "
        "best. Canary-normalized HEAD ≈ 2.87 s, matching the r12 2.94 "
        "pin — the r13 3.47 driver reading was the machine, not the "
        "grid-kNN code (neighbors.py untouched r12→r14)."
    ),
    "sequence_packing": (
        "environmental: pack_sequences (pipeline/export.py:154) "
        "byte-identical since r4 — zero r9 commits touch export.py; the "
        "driver's r9 median 3.74s came from warm samples [13.60, 3.74, "
        "0.78], a 17x spread across three warm passes of the same query "
        "(contention signature). Isolated fresh-session re-run "
        "2026-08-15: cold 3.19s then warm [0.718, 0.634, 0.655, 0.665] "
        "- matching the builder's r9 recorded 0.92 [0.83, 0.92, 0.98]. "
        "The plan is one repartitionByRange + shard-local mapInPandas "
        "first-fit, scale-safe. The r10 spread guard (bench_one) now "
        "structurally prevents this class of series from medianing "
        "into a pin."
    ),
}


def best_recorded_queries(repo_dir):
    """Per-query MIN across every parsed BENCH_r*.json — the pin each
    new round compares against (VERDICT r7 #2 bench_regressions)."""
    import glob

    best: dict[str, float] = {}
    for path in sorted(glob.glob(os.path.join(repo_dir, "BENCH_r*.json"))):
        try:
            with open(path) as fh:
                parsed = (json.load(fh) or {}).get("parsed") or {}
        except (OSError, ValueError):
            continue
        for k, v in (parsed.get("queries") or {}).items():
            if isinstance(v, (int, float)) and v > 0:
                best[k] = min(best.get(k, float(v)), float(v))
    return best


# --- environment canary (VERDICT r10 #2) -----------------------------------
# A fixed, never-to-be-edited operation measured FIRST in every bench run:
# pinned-seed 10M-row column math + a 1024-key aggregate, no file IO, no
# repo code under test. Identical across rounds BY CONSTRUCTION, so its
# round-over-round ratio measures the MACHINE (ambient load, VM neighbors,
# thermal state), never a commit. Each per-query regression ratio is then
# reported raw AND canary-normalized: a round where ~30 untouched queries
# drift 1.1-1.3x together while the canary drifts the same amount is an
# ambient-load round, not 30 regressions — and a real regression stays
# visible because the canary does NOT move with it.
CANARY_ROWS = 10_000_000
CANARY_SEED = 0x5EED11


def canary_fn(spark):
    from pyspark.sql import functions as F

    df = spark.range(CANARY_ROWS).select(
        (F.xxhash64(F.col("id"), F.lit(CANARY_SEED)) % 1024).alias("k"),
        (F.col("id") % 997).cast("double").alias("v"),
    )
    (
        df.groupBy("k")
        .agg(F.sum("v").alias("s"), F.avg("v").alias("a"), F.count(F.lit(1)).alias("n"))
        .agg(F.sum("s"), F.sum("a"), F.sum("n"))
        .collect()
    )


SHUFFLE_CANARY_ROWS = 10_000_000


def shuffle_canary_fn(spark):
    """Bandwidth-shaped twin of :func:`canary_fn` (r14): full-width
    ``xxhash64`` keys are ~unique, so map-side partial aggregation CANNOT
    collapse rows — every one of the 10M (key, value) pairs crosses the
    exchange (~16 B/row + framing ≈ 200-300 MB shuffle write + fetch).
    The CPU canary proved blind to exactly this cost class: this
    session's core-sf10 lane measured fk_orphans_join 33.2 s vs the 11-17 s
    history UNDER A FLAT CPU canary, while the compute-bound
    audit_bar_expensive sat at parity — ambient memory/disk-bandwidth
    contention the scalar-aggregate canary never touches. Shuffle-bound
    swings are attributable only against a canary that shuffles."""
    from pyspark.sql import functions as F

    df = spark.range(SHUFFLE_CANARY_ROWS).select(
        F.xxhash64(F.col("id"), F.lit(CANARY_SEED)).alias("k"),
        (F.col("id") % 997).cast("double").alias("v"),
    )
    (
        df.groupBy("k")
        .agg(F.sum("v").alias("s"))
        .agg(F.count(F.lit(1)).alias("n"), F.sum("s").alias("t"))
        .collect()
    )


def shuffle_canary_bracket(spark):
    """One untimed warm-up (codegen) then MIN of 3 timed passes — the
    machine's shuffle capability at this moment, not its worst burst."""
    shuffle_canary_fn(spark)
    samples = []
    for _ in range(3):
        t0 = time.time()
        shuffle_canary_fn(spark)
        samples.append(time.time() - t0)
    return round(min(samples), 4)


def best_recorded_canary(repo_dir):
    """MIN canary_seconds across every parsed BENCH_r*.json (None until
    the first canary-carrying round lands)."""
    import glob

    best = None
    for path in sorted(glob.glob(os.path.join(repo_dir, "BENCH_r*.json"))):
        try:
            with open(path) as fh:
                parsed = (json.load(fh) or {}).get("parsed") or {}
        except (OSError, ValueError):
            continue
        v = parsed.get("canary")
        if isinstance(v, (int, float)) and v > 0:
            best = v if best is None else min(best, float(v))
    return best


def bracket_canary(start_seconds, end_seconds, *mid_seconds):
    """Combine the start/mid/end canary samples: the MIN drives
    normalization (the machine's capability, not its worst moment), the
    max/min spread records intra-run burstiness that a single sample
    misses (observed r11: null_suite read 2.0s in a run whose start
    canary read 0.4205 vs 0.4209 idle — the burst arrived after the
    canary and left before the end). The MID sample (r12, VERDICT r11
    #3) splits the run into two attributable halves: a burst that shows
    in mid-vs-start but not end-vs-mid happened during the FIRST half's
    queries, and vice versa — so a per-query ratio excursion can be
    matched to the half the load actually occupied. Pure so tests pin
    it."""
    samples = [start_seconds, end_seconds, *mid_seconds]
    lo = min(samples)
    if lo <= 0:
        return lo, 1.0
    return lo, round(max(samples) / lo, 3)


def normalize_ratios(ratios, canary_seconds, best_canary):
    """Divide each per-query regression ratio by the canary's own ratio
    (this round's canary / best recorded canary). Pure so tests pin the
    rule. With no canary history the load factor is 1.0 (the first
    canary round becomes the baseline)."""
    if not canary_seconds or not best_canary or best_canary <= 0:
        return dict(ratios), 1.0
    load = canary_seconds / best_canary
    if load <= 0:
        return dict(ratios), 1.0
    return {k: round(r / load, 2) for k, r in ratios.items()}, round(load, 3)


def lane_canary_sample(spark, lane, tag):
    """One canary sample recorded into a cold lane's dict (VERDICT r12
    #2): the warm suite got bracket samples + a load factor in r12 while
    the single-cold-pass lanes had NO variance discipline — so sf10
    swings like mixed_core_suite 17.9→28.7 s could only be called
    'almost certainly load' instead of attributed. Lane entries now
    carry their own machine-state samples."""
    t0 = time.time()
    canary_fn(spark)
    lane[f"canary_{tag}"] = round(time.time() - t0, 4)
    # r14: one shuffle-canary sample alongside (shuffle-bound lane
    # entries — fk_orphans, minhash, dedup_clusters — swing with
    # memory/disk bandwidth the CPU canary cannot see; the key prefix
    # "canary_shuffle_" keeps it out of the stdout lane summary AND out
    # of the CPU-canary spread/load-factor math below).
    t0 = time.time()
    shuffle_canary_fn(spark)
    lane[f"canary_shuffle_{tag}"] = round(time.time() - t0, 4)


def finish_lane_canary(lane, best_canary):
    """Derive the lane's spread + load factor from its canary samples.

    The MIN sample is the machine's capability during the lane; the
    load factor (min / best recorded canary) is the multiplier ambient
    load put on everything measured between the samples — a lane number
    that swings round-over-round by ~the load factor is the machine, a
    swing the factor can't explain is a commit."""
    samples = [
        v
        for k, v in lane.items()
        if k.startswith("canary_")
        and not k.startswith("canary_shuffle_")
        and isinstance(v, (int, float))
    ]
    if not samples:
        return
    lo = min(samples)
    if lo > 0:
        lane["canary_spread"] = round(max(samples) / lo, 3)
    if best_canary and lo > 0:
        lane["canary_load_factor"] = round(lo / best_canary, 3)


SUMMARY_LINE_BUDGET = 1900

# Headline lane keys, kept longest under budget pressure (everything
# trimmed away is fully recorded in bench_detail.json). Order matters:
# the later a trim step runs, the more load-bearing the keys it keeps.
_SF1_HEADLINE = (
    "minhash_dedup", "bpe_train_tokenize", "tag_documents_fused",
    # r15 scaling rows (VERDICT r14 #7): the five ratio≈1 suite entries'
    # 10× points must survive trims — they are the lane's reason to exist
    "decontamination", "embedding_topk", "self_dedup_spans",
    "dsir_select", "psi_drift",
    "canary_load_factor",
)
_SF10_HEADLINE = (
    "minhash_dedup", "dedup_clusters", "incremental_dedup_indexed",
    "delta_check_fp_colocated", "tag_documents_fused", "bpe_train_tokenize",
    "pq_train_search", "canary_load_factor",
)
_CORE_HEADLINE = (
    "mixed_core_suite", "fk_orphans_join", "fk_orphans_bucketed",
    "delta_check_fp_colocated", "scan_warmup_seconds",
    "canary_load_factor",
)


def _dumps(obj) -> str:
    """Compact JSON for the stdout summary line: the default
    ``json.dumps`` separators waste one space per key and per comma
    (~120 chars across a full line — r14's line was 1899/1900). Compact
    separators buy exactly the headroom the r15 sf1 scaling rows need
    while staying standard JSON for the driver's parser."""
    return json.dumps(obj, separators=(",", ":"))


def build_summary_line(detail, flagged=None, budget=SUMMARY_LINE_BUDGET):
    """Build the ONE-line JSON stdout summary from the full detail dict.

    The driver keeps only the last ~2000 chars of stdout; r13's summary
    grew to 2105 chars after the old ad-hoc trims and the round's numbers
    were lost (`BENCH_r13.json parsed: null`, VERDICT r13 #1). This
    rebuilds the line through a HARD trim loop: graduated steps drop
    lane detail first (all of it lives in bench_detail.json), then a
    last-resort step truncates the per-query map itself — the emitted
    line is provably <= `budget` chars for any input shape.
    """
    if flagged is None:
        ratios = detail.get("bench_regressions") or {}
        flagged = dict(
            sorted(
                ((k, r) for k, r in ratios.items() if r > 1.5),
                key=lambda kv: -kv[1],
            )[:5]
        )
    canary = detail.get("canary") or {}
    line = {
        "metric": "suite_seconds",
        "value": detail.get("value"),
        "unit": "sec",
        "queries": {
            k: round(v, 3) for k, v in (detail.get("queries") or {}).items()
        },
        "cold_value": detail.get("cold_value"),
        "canary": canary.get("seconds"),
        "load_factor": canary.get("load_factor"),
        # r14: the shuffle-bandwidth twin rides the parsed line so the
        # driver's cross-round series can normalize shuffle-bound swings
        "shuffle_canary": (detail.get("shuffle_canary") or {}).get("seconds"),
        "sf": detail.get("sf"),
    }

    # lane filters: row counts, x_vs_* ratios and raw canary samples live
    # only in bench_detail.json; only the derived load factor prints.
    def _lane_keep(k):
        if "_x_vs_" in k or k in ("rows", "events_rows", "embedding_rows",
                                  "lineitem_rows", "delta_rows"):
            return False
        return not k.startswith("canary_") or k == "canary_load_factor"

    def _lane(d, nd):
        return {
            k: (round(v, nd) if isinstance(v, float) else v)
            for k, v in d.items()
            if _lane_keep(k)
        }

    if detail.get("sf1_lane"):
        line["sf1"] = _lane(detail["sf1_lane"], 2)
    if detail.get("sf10_lane"):
        line["sf10"] = _lane(detail["sf10_lane"], 2)
    if detail.get("core_lane"):
        line["core"] = {
            label: _lane(d, 1) if isinstance(d, dict) else d
            for label, d in detail["core_lane"].items()
        }
    if flagged:
        line["bench_regressions"] = flagged

    def _headline(key, keep):
        if key in line and isinstance(line[key], dict):
            line[key] = {k: v for k, v in line[key].items() if k in keep}

    def _trim_flagged():
        if flagged:
            line["bench_regressions"] = dict(list(flagged.items())[:2])

    def _trim_core_headline():
        if isinstance(line.get("core"), dict):
            line["core"] = {
                label: {k: v for k, v in d.items() if k in _CORE_HEADLINE}
                if isinstance(d, dict)
                else d
                for label, d in line["core"].items()
            }

    def _trim_queries():
        # absolute last resort: keep the slowest queries that fit; the
        # full map is always in bench_detail.json
        q = line.get("queries") or {}
        line["queries"] = dict(
            sorted(q.items(), key=lambda kv: -kv[1])[: max(1, len(q) // 2)]
        )
        line["queries_truncated"] = True

    trims = [
        _trim_flagged,
        lambda: _headline("sf1", _SF1_HEADLINE),
        _trim_core_headline,
        lambda: _headline("sf10", _SF10_HEADLINE),
        # r15: the core lane's mid-scale label yields BEFORE the sf1
        # scaling rows do — the sf1 rows are the driver's only mid-scale
        # point for the ratio≈1 suite entries (VERDICT r14 #7), while
        # core.sf1 duplicates the shape core.sf10 shows better
        lambda: (
            line.__setitem__("core", {"sf10": line["core"]["sf10"]})
            if isinstance(line.get("core"), dict) and "sf10" in line["core"]
            else None
        ),
        lambda: line.pop("sf1", None),
        lambda: line.pop("core", None),
        lambda: _headline(
            "sf10", ("minhash_dedup", "incremental_dedup_indexed",
                     "delta_check_fp_colocated", "canary_load_factor")
        ),
        lambda: line.pop("sf10", None),
        lambda: line.pop("bench_regressions", None),
    ]
    out = _dumps(line)
    for trim in trims:
        if len(out) <= budget:
            break
        trim()
        out = _dumps(line)
    # hard floor: halve the query map until it fits (terminates — the
    # map shrinks every pass and the fixed fields are ~200 chars)
    while len(out) > budget and len(line.get("queries") or {}) > 1:
        _trim_queries()
        out = _dumps(line)
    return out


def main():
    from pyspark.sql import functions as F

    from truthound_spark.core.executor import BatchExpressionExecutor
    from truthound_spark.entry_queries import load_events
    from truthound_spark.validators.completeness import NullValidator
    from truthound_spark.validators.distribution import RangeValidator
    from truthound_spark.validators.uniqueness import UniqueValidator

    spark = make_spark()
    spark.sparkContext.setLogLevel("ERROR")

    lineitem = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
    orders = spark.read.parquet(f"{SF_DIR}/orders.parquet")
    customer = spark.read.parquet(f"{SF_DIR}/customer.parquet")

    # documents/embeddings re-layout: the sf0.1 files hold only 1-2
    # parquet row groups, so every CPU-heavy per-row operator (tokenize /
    # minhash / winnow / vector math) would run on ≤2 of the CPUS cores —
    # a storage artifact of the tiny test file, not a property of the
    # operators. At 100 TB the same scans produce thousands of row-group
    # splits. Rewriting the two text/vector tables once into CPUS-way
    # parquet (same bytes, same schema) restores the parallelism a real
    # layout has while KEEPING a genuine parquet scan (pushdown, pruning,
    # column projection) inside every measured plan. The rewrite cost is
    # outside all timers; row-oriented TPC-H tables stay untouched.
    import tempfile

    relayout_dir = os.path.join(
        tempfile.gettempdir(), f"spark_graft_bench_relayout_{os.path.basename(SF_DIR)}"
    )
    documents = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    embeddings = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    documents.repartition(int(CPUS)).write.mode("overwrite").parquet(
        f"{relayout_dir}/documents.parquet"
    )
    embeddings.repartition(int(CPUS)).write.mode("overwrite").parquet(
        f"{relayout_dir}/embeddings.parquet"
    )
    documents = spark.read.parquet(f"{relayout_dir}/documents.parquet")
    embeddings = spark.read.parquet(f"{relayout_dir}/embeddings.parquet")
    events = load_events(spark, SF_DIR)

    # Warm the JVM / codegen / parquet footer caches before timing —
    # BASELINE.md's reference numbers are explicitly *warm* runs.
    for df in (lineitem, orders, customer, documents, embeddings, events):
        df.count()

    timings: dict[str, float] = {}
    cold_timings: dict[str, float] = {}
    t_start = time.time()

    # canary first (VERDICT r10 #2): measured before any workload so the
    # machine-state reading brackets the run from the cold end; its
    # timings stay OUT of the headline total (it is not a product query).
    canary_timings: dict[str, float] = {}
    canary_cold: dict[str, float] = {}
    bench_one("canary", lambda: canary_fn(spark), canary_timings, canary_cold)
    canary_seconds = canary_timings["canary"]
    shuffle_canary_start = shuffle_canary_bracket(spark)

    # --- BASELINE.md workload shapes -----------------------------------
    # local-null: not_null over every lineitem column (fused single agg)
    bench_one(
        "null_suite",
        lambda: BatchExpressionExecutor([NullValidator()]).execute(lineitem),
        timings,
        cold_timings,
    )
    # local-unique
    bench_one(
        "unique_orderkey",
        lambda: BatchExpressionExecutor([UniqueValidator(columns=["o_orderkey"])]).execute(
            orders
        ),
        timings,
        cold_timings,
    )
    # local-range
    bench_one(
        "range_quantity",
        lambda: BatchExpressionExecutor(
            [RangeValidator("l_quantity", 1, 30)]
        ).execute(lineitem),
        timings,
        cold_timings,
    )
    # local-schema: learn a baseline then validate a frame against it
    def schema_check():
        from truthound_spark.schema import learn, validate_against

        sch = learn(customer.limit(2000))
        validate_against(customer, sch)

    bench_one("schema_learn_validate", schema_check, timings, cold_timings)

    # local-mixed-core-suite: null + unique + range in ONE fused agg
    bench_one(
        "mixed_core_suite",
        lambda: BatchExpressionExecutor(
            [
                NullValidator(columns=["l_quantity", "l_extendedprice"]),
                UniqueValidator(columns=["l_orderkey"]),
                RangeValidator("l_quantity", 1, 30),
            ]
        ).execute(lineitem),
        timings,
        cold_timings,
    )

    # batch-executor claim (BASELINE.md base.py:2347): N validators in ONE
    # fused agg vs one Spark job per validator
    def suite_12():
        # 12 single-agg validators (the distinct-count validator is benched
        # separately in unique_orderkey — its two-phase shuffle would mask
        # the scan-count comparison here)
        return [
            NullValidator(columns=["l_quantity"]),
            NullValidator(columns=["l_extendedprice"]),
            NullValidator(columns=["l_discount"]),
            NullValidator(columns=["l_tax"]),
            NullValidator(columns=["l_shipdate"]),
            RangeValidator("l_quantity", 1, 30),
            RangeValidator("l_discount", 0.0, 0.1),
            RangeValidator("l_tax", 0.0, 0.1),
            RangeValidator("l_extendedprice", 0, 200000),
            RangeValidator("l_linenumber", 1, 7),
            RangeValidator("l_partkey", 0, 10_000_000),
            RangeValidator("l_suppkey", 0, 1_000_000),
        ]

    bench_one(
        "fused_suite",
        lambda: BatchExpressionExecutor(suite_12()).execute(lineitem),
        timings,
        cold_timings,
    )

    def sequential_suite():
        for v in suite_12():
            BatchExpressionExecutor([v]).execute(lineitem)

    bench_one("sequential_suite", sequential_suite, timings, cold_timings)

    # --- headline engine/pipeline operators ----------------------------
    def q1():
        (
            lineitem.groupBy("l_returnflag", "l_linestatus")
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.sum("l_quantity").alias("sq"),
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("sd"),
                F.avg("l_discount").alias("ad"),
            )
            .collect()
        )

    bench_one("q1_pricing_summary", q1, timings, cold_timings)

    bench_one(
        "fk_orphans_join",
        lambda: lineitem.join(
            orders.select("o_orderkey").dropDuplicates(),
            lineitem.l_orderkey == F.col("o_orderkey"),
            "left_anti",
        ).count(),
        timings,
        cold_timings,
    )

    def drift():
        from truthound_spark.drift.detectors import psi

        base = events.filter(F.col("event_id") % 2 == 0)
        cur = events.filter(F.col("event_id") % 2 == 1)
        psi(base, cur, "value")

    bench_one("psi_drift_events", drift, timings, cold_timings)

    bench_one(
        "tumbling_windows_events",
        lambda: events.groupBy(F.window("ts", "1 hour"))
        .agg(F.count(F.lit(1)).alias("n"), F.avg("value").alias("a"))
        .collect(),
        timings,
        cold_timings,
    )

    def minhash():
        from truthound_spark.pipeline.dedup import minhash_dedup_pairs

        minhash_dedup_pairs(documents, threshold=0.7, num_hashes=64, bands=32).count()

    bench_one("minhash_dedup_documents", minhash, timings, cold_timings)

    def dedup_clusters_bench():
        from truthound_spark.pipeline.dedup import dedup_clusters

        dedup_clusters(documents, threshold=0.7, num_hashes=64, bands=32).filter(
            ~F.col("is_canonical")
        ).count()

    bench_one("dedup_clusters_documents", dedup_clusters_bench, timings, cold_timings)

    # incremental_dedup_indexed (VERDICT r12 #3): the production
    # daily-increment path — dedup a ~10% delta against a PRE-INDEXED
    # base in delta-sized time. The one-time index write happens here,
    # outside the query timers (it is the amortized cost the steady
    # state never re-pays), but its seconds are RECORDED
    # (dedup_index_write_seconds in bench_detail) so the amortization
    # claim stays auditable rather than hidden.
    from truthound_spark.pipeline.dedup import write_dedup_index

    dedup_idx_loc = os.path.join(
        tempfile.gettempdir(),
        f"spark_graft_bench_dedup_idx_{os.path.basename(SF_DIR)}",
    )
    idx_base = documents.filter(F.col("doc_id") % 10 != 0)
    idx_delta = documents.filter(F.col("doc_id") % 10 == 0)
    # attach-first (r13): a previous run's index is recovered from its
    # on-disk sidecars instead of re-written — the steady-state cost the
    # production story claims. Index content is a pure function of the
    # document SET (content fingerprints/shingles), which is
    # deterministic in SF_DIR, so a recovered index is always valid
    # here; any attach problem falls back to a fresh write.
    t0 = time.time()
    dedup_index = None
    dedup_index_attached = False
    try:
        from truthound_spark.layout import attach_layout_database

        names = {
            t.split(".")[-1]
            for t in attach_layout_database(
                spark, dedup_idx_loc, database="truthound_bench_idx01"
            )
        }
        want = {"bench_docs_fingerprints", "bench_docs_shingles", "bench_docs_lsh"}
        if want <= names:
            dedup_index = {
                k: f"truthound_bench_idx01.bench_docs_{k}"
                for k in ("fingerprints", "shingles", "lsh")
            }
            # banding-version gate (r14): an index persisted by an older
            # banding function must be re-written, not probed — raise
            # here so the except falls through to the fresh write
            _check_dedup_index_version(spark, dedup_index["lsh"])
            dedup_index_attached = True
    except Exception:
        dedup_index = None
    if dedup_index is None:
        dedup_index = write_dedup_index(
            idx_base, "bench_docs", database="truthound_bench_idx01",
            location=dedup_idx_loc,
        )
    dedup_index_write_seconds = round(time.time() - t0, 3)

    def incremental_indexed_bench():
        from truthound_spark.pipeline.dedup import incremental_dedup_indexed

        incremental_dedup_indexed(idx_delta, dedup_index, threshold=0.7).count()

    bench_one(
        "incremental_dedup_indexed", incremental_indexed_bench, timings, cold_timings
    )

    def decontaminate_bench():
        from truthound_spark.pipeline.dedup import decontaminate

        decontaminate(
            documents.filter(F.col("doc_id") % 2 == 0),
            documents.filter(F.col("doc_id") % 2 == 1),
        ).count()

    bench_one("decontamination_documents", decontaminate_bench, timings, cold_timings)

    def topk():
        from truthound_spark.pipeline.similarity import brute_force_topk

        q = embeddings.filter(F.col("vec_id") < 8)
        brute_force_topk(embeddings, q, k=10).count()

    bench_one("embedding_topk", topk, timings, cold_timings)

    def text_quality():
        from truthound_spark.pipeline.text import quality_score

        quality_score(documents, "text").agg(F.avg("quality_score")).collect()

    bench_one("text_quality_documents", text_quality, timings, cold_timings)

    def corpus_hygiene():
        from truthound_spark.pipeline.text import clean_text, gopher_filter

        gopher_filter(
            documents.withColumn("text", clean_text(F.col("text")))
        ).count()

    bench_one("corpus_hygiene_filter", corpus_hygiene, timings, cold_timings)

    def export_pack():
        from truthound_spark.pipeline.export import pack_sequences

        pack_sequences(documents, max_tokens=1024, n_shards=32).count()

    bench_one("sequence_packing", export_pack, timings, cold_timings)

    def kmeans_bench():
        from truthound_spark.pipeline.clustering import kmeans

        feats = customer.select(
            F.col("c_custkey").alias("cid"),
            (F.col("c_acctbal") / 1000).alias("x0"),
            F.col("c_nationkey").cast("double").alias("x1"),
        )
        assigned, _ = kmeans(feats, ["x0", "x1"], k=8, iters=3, id_col="cid")
        assigned.groupBy("cluster").count().collect()

    bench_one("kmeans_customer", kmeans_bench, timings, cold_timings)

    def semantic_dedup_bench():
        from truthound_spark.pipeline.dedup import semantic_dedup

        semantic_dedup(embeddings, num_cells=16, threshold=0.4).filter(
            "NOT keep"
        ).count()

    bench_one("semantic_dedup_embeddings", semantic_dedup_bench, timings, cold_timings)

    def global_shuffle_bench():
        from truthound_spark.pipeline.export import global_shuffle

        global_shuffle(documents, n_shards=32).agg(
            F.max("position"), F.count(F.lit(1))
        ).collect()

    bench_one("global_shuffle_documents", global_shuffle_bench, timings, cold_timings)

    def lof_bench():
        from truthound_spark.pipeline.neighbors import lof

        feats = customer.select(
            F.col("c_custkey").alias("cid"),
            (F.col("c_acctbal") / 1000).alias("x"),
            F.col("c_nationkey").cast("double").alias("y"),
        )
        lof(feats, ["x", "y"], k=5, id_col="cid").filter(
            F.col("lof") > 1.5
        ).count()

    bench_one("lof_native_customer", lof_bench, timings, cold_timings)

    def self_dedup_bench():
        from truthound_spark.pipeline.dedup import self_dedup_spans

        self_dedup_spans(documents, n=8).agg(
            F.sum("removed_tokens"), F.count(F.lit(1))
        ).collect()

    bench_one("self_dedup_spans", self_dedup_bench, timings, cold_timings)

    def winnow_bench():
        from truthound_spark.pipeline.text import winnow_overlap_pairs

        winnow_overlap_pairs(documents, k=4, w=4, min_shared=2).count()

    bench_one("winnow_overlap", winnow_bench, timings, cold_timings)

    def dsir_bench():
        from truthound_spark.pipeline.text import dsir_select

        dsir_select(
            documents, documents.filter(F.col("lang") == "en"), n_select=1000
        ).count()

    bench_one("dsir_select", dsir_bench, timings, cold_timings)

    def semantic_decon_bench():
        from truthound_spark.pipeline.dedup import semantic_decontaminate

        semantic_decontaminate(
            embeddings.filter(F.col("vec_id") % 5 != 0),
            embeddings.filter(F.col("vec_id") % 5 == 0),
            threshold=0.45,
        ).count()

    bench_one("semantic_decontaminate", semantic_decon_bench, timings, cold_timings)

    def pq_bench():
        from truthound_spark.pipeline.similarity import pq_search, pq_train

        books = pq_train(embeddings, m=8, k=16, iters=1)
        q = embeddings.filter(F.col("vec_id") < 8).withColumnRenamed(
            "vec_id", "query_id"
        )
        pq_search(embeddings, q, books, k=10).count()

    bench_one("pq_train_search", pq_bench, timings, cold_timings)

    def bpe_bench():
        from truthound_spark.pipeline.tokenizer import bpe_token_counts, bpe_train

        merges = bpe_train(documents, rounds=6)
        bpe_token_counts(documents, merges).agg(F.sum("n_tokens")).collect()

    bench_one("bpe_train_tokenize", bpe_bench, timings, cold_timings)

    def tagger_bench():
        from truthound_spark.pipeline.text import tag_documents

        tag_documents(documents).agg(
            F.avg("quality_score"), F.avg("classifier_score")
        ).collect()

    bench_one("tag_documents_fused", tagger_bench, timings, cold_timings)

    def bitext_bench():
        from truthound_spark.pipeline.align import mine_bitext

        mine_bitext(
            embeddings.filter(F.col("vec_id") % 2 == 0),
            embeddings.filter(F.col("vec_id") % 2 == 1),
            k=4,
        ).count()

    bench_one("bitext_mining", bitext_bench, timings, cold_timings)

    # --- BASELINE.md pushdown workload shapes (sqlite-null/range/unique
    # roles; DuckDB executes the generated SQL in-database over the same
    # parquet — on a cluster the identical SQL rides spark.read.jdbc) -----
    def pushdown(kind):
        from truthound_spark.sources import DuckDBSource

        src = DuckDBSource()
        src.register_parquet("lineitem", f"{SF_DIR}/lineitem.parquet")
        try:
            if kind == "null":
                src.null_count("lineitem", "l_quantity")
            elif kind == "range":
                src.range_stats("lineitem", "l_quantity", 1, 30)
            else:
                src.distinct_count("lineitem", "l_orderkey")
        finally:
            src.close()

    bench_one("pushdown_null", lambda: pushdown("null"), timings, cold_timings)
    bench_one("pushdown_range", lambda: pushdown("range"), timings, cold_timings)
    bench_one("pushdown_unique", lambda: pushdown("unique"), timings, cold_timings)

    # mid-suite canary (r12): a third machine-state sample roughly halfway
    # through the warm block, so a burst can be attributed to the half of
    # the run it occupied (start/end alone cannot say WHICH queries a
    # mid-run burst inflated — the r11 null_suite excursion problem).
    canary_mid_t: dict[str, float] = {}
    bench_one("canary", lambda: canary_fn(spark), canary_mid_t, {})
    canary_mid_seconds = canary_mid_t["canary"]

    # --- round-7 learning workloads -----------------------------------
    def fd_mining_bench():
        from truthound_spark.ml import ConstraintMiner

        ConstraintMiner(
            min_confidence=0.0, min_support=0.0, discover_value_implications=False
        ).learn_rules(
            orders,
            fd_candidates=[
                ("o_custkey", "o_orderstatus"),
                ("o_custkey", "o_orderpriority"),
                ("o_orderstatus", "o_orderpriority"),
            ],
        )

    bench_one("fd_mining", fd_mining_bench, timings, cold_timings)

    def learned_thresholds_bench():
        from truthound_spark.api import check
        from truthound_spark.ml import HistoryThresholdLearner, thresholds_to_suite
        from truthound_spark.profiler.table_profiler import profile_grouped

        li = lineitem.select("l_orderkey", "l_quantity", "l_discount")
        snaps = profile_grouped(
            li.filter(F.col("l_orderkey") % 4 != 3).select(
                (F.col("l_orderkey") % 4).alias("__snap"), "l_quantity", "l_discount"
            ),
            "__snap",
        )
        tt = HistoryThresholdLearner().learn([snaps[k] for k in sorted(snaps)])
        probe = li.filter(F.col("l_orderkey") % 4 == 3).select(
            "l_quantity", "l_discount"
        )
        check(probe, validators=thresholds_to_suite(tt))

    bench_one("learned_thresholds", learned_thresholds_bench, timings, cold_timings)

    # --- round-7 regression / composition workloads -------------------
    def logreg_bench():
        from truthound_spark.pipeline.regression import logreg_train

        feats = documents.filter(
            F.col("text").isNotNull()
            & F.col("n_chars").isNotNull()
            & F.col("lang").isNotNull()
        ).select(
            (F.col("n_chars") / 1000.0).alias("x1"),
            (
                (
                    F.length("text")
                    - F.length(F.replace(F.col("text"), F.lit(" "), F.lit("")))
                )
                / 100.0
            ).alias("x2"),
            F.when(F.col("lang") == "en", 1.0).otherwise(0.0).alias("y"),
        )
        logreg_train(feats, ["x1", "x2"], "y", iters=3)

    bench_one("logreg_train", logreg_bench, timings, cold_timings)

    def composition_bench():
        from truthound_spark.pipeline.report import (
            concentration_report,
            corpus_composition,
        )

        corpus_composition(documents, "source", weight_col="n_chars").count()
        concentration_report(documents, "source", weight_col="n_chars").collect()

    bench_one("corpus_composition", composition_bench, timings, cold_timings)

    # --- round-8 grouped drift family (per-segment psi + exact KS over
    # every event_type in constant passes) -------------------------------
    def grouped_drift_bench():
        from truthound_spark.drift.detectors import ks_grouped, psi_grouped

        base = events.filter(F.col("event_id") % 2 == 0)
        cur = events.filter(F.col("event_id") % 2 == 1)
        psi_grouped(base, cur, "value", "event_type").collect()
        ks_grouped(base, cur, "value", "event_type").collect()

    bench_one("grouped_drift_events", grouped_drift_bench, timings, cold_timings)

    # --- round-12: RowLevelValidator transport comparison (the per-row
    # Python contract over Arrow-batched pandas vs row-at-a-time F.udf —
    # same predicate, same verdict, the pair quantifies the fast path's
    # speedup on the full lineitem scan) -------------------------------
    def row_level(vectorized):
        from truthound_spark.validators.query import RowLevelValidator

        def run():
            RowLevelValidator(
                "l_quantity",
                lambda v: v is not None and 0 < v < 60,
                vectorized=vectorized,
            ).validate(lineitem)

        return run

    bench_one("row_level_vectorized", row_level(True), timings, cold_timings)
    bench_one("row_level_python_udf", row_level(False), timings, cold_timings)

    # closing canary (r11): a single start-of-run canary misses BURSTY
    # contention that arrives mid-run and leaves before the end — observed
    # this round when null_suite read 2.0s in a loaded run whose start
    # canary read 0.4205 vs 0.4209 on the idle re-run. A second sample
    # AFTER the warm block brackets the recorded queries: the bracket
    # spread is recorded, and the MIN of the two drives normalization
    # (the machine's capability, not its worst moment). The per-query
    # spread guard still covers bursts WITHIN one query's samples.
    canary_end_t: dict[str, float] = {}
    bench_one("canary", lambda: canary_fn(spark), canary_end_t, {})
    canary_end_seconds = canary_end_t["canary"]
    shuffle_canary_end = shuffle_canary_bracket(spark)
    canary_start_seconds = canary_seconds
    canary_seconds, canary_bracket_spread = bracket_canary(
        canary_start_seconds, canary_end_seconds, canary_mid_seconds
    )
    # best recorded canary, needed by the cold-lane brackets below (the
    # warm-suite normalization reuses it at the bottom of main)
    best_canary = best_recorded_canary(os.path.dirname(os.path.abspath(__file__)))

    # --- sf1 lane (VERDICT r5 #10): the dedup/BPE/tagger trio on a 10×
    # documents corpus derived from SF_DIR (replica-perturbed text: every
    # 7th word, offset per replica, gets a replica suffix — JVM HOFs, so
    # replicas are NOT near-duplicates and the LSH pair stage measures
    # scaling, not a synthetic 45×-duplicate explosion). Single cold pass
    # each — this lane measures throughput growth vs the sf0.1 numbers
    # above, turning SCALING.md's synthetic-multiple curve into a
    # real-workload one. Disable with SPARK_GRAFT_SF1_LANE=0.
    sf1_lane: dict = {}
    if os.environ.get("SPARK_GRAFT_SF1_LANE", "1") != "0":
        reps = spark.range(10).select(F.col("id").cast("int").alias("rep"))
        documents10 = (
            documents.crossJoin(F.broadcast(reps))
            .select(
                (F.col("doc_id") * 10 + F.col("rep")).alias("doc_id"),
                F.concat_ws(
                    " ",
                    F.expr(
                        "transform(split(text, ' '), (w, i) -> "
                        "IF((i + rep) % 7 = 0, concat(w, '_', rep), w))"
                    ),
                ).alias("text"),
                "lang",
                "source",
                "n_chars",
            )
            .persist()
        )
        n10 = documents10.count()  # materialize outside the timers

        def sf1_minhash():
            from truthound_spark.pipeline.dedup import minhash_dedup_pairs

            minhash_dedup_pairs(
                documents10, threshold=0.7, num_hashes=64, bands=32
            ).count()

        def sf1_bpe():
            from truthound_spark.pipeline.tokenizer import bpe_token_counts, bpe_train

            merges = bpe_train(documents10, rounds=6)
            bpe_token_counts(documents10, merges).agg(F.sum("n_tokens")).collect()

        def sf1_tagger():
            from truthound_spark.pipeline.text import tag_documents

            tag_documents(documents10).agg(
                F.avg("quality_score"), F.avg("classifier_score")
            ).collect()

        # regression/eval ops at 10× (VERDICT r7 #7: SCALING.md's r7
        # 1×/10× table recorded per-round — these inherit the scan's
        # scaling, so their 10× numbers should stay near-flat multiples)
        def _feats10():
            return documents10.filter(
                F.col("text").isNotNull()
                & F.col("n_chars").isNotNull()
                & F.col("lang").isNotNull()
            ).select(
                (F.col("n_chars") / 1000.0).alias("x1"),
                (
                    (
                        F.length("text")
                        - F.length(
                            F.replace(F.col("text"), F.lit(" "), F.lit(""))
                        )
                    )
                    / 100.0
                ).alias("x2"),
                F.when(F.col("lang") == "en", 1.0).otherwise(0.0).alias("y"),
            )

        def sf1_logreg():
            from truthound_spark.pipeline.regression import logreg_train

            logreg_train(_feats10(), ["x1", "x2"], "y", iters=3)

        def sf1_auc():
            from truthound_spark.pipeline.regression import auc_binned, logreg_score

            auc_binned(
                logreg_score(_feats10(), ["x1", "x2"], [-1.1, 2.0, 1.0]),
                "score",
                "y",
            ).collect()

        def sf1_threshold_sweep():
            from truthound_spark.pipeline.regression import logreg_score, threshold_sweep

            threshold_sweep(
                logreg_score(_feats10(), ["x1", "x2"], [-1.1, 2.0, 1.0]),
                "score",
                "y",
                [0.2, 0.35, 0.5, 0.65, 0.8],
            ).collect()

        def sf1_composition():
            from truthound_spark.pipeline.report import (
                concentration_report,
                corpus_composition,
            )

            corpus_composition(documents10, "source", weight_col="n_chars").count()
            concentration_report(
                documents10, "source", weight_col="n_chars"
            ).collect()

        def sf1_weighted_sample():
            from truthound_spark.pipeline.export import weighted_sample

            weighted_sample(
                documents10.filter(F.col("n_chars") > 0),
                "n_chars",
                k=1000,
                key_col="doc_id",
            ).count()

        # grouped drift family at 10× (VERDICT r8 #6: SCALING.md's r8
        # 1×/10× table was ad hoc — fold it into the recorded lane).
        # events ×10 with value perturbed per replica so distinct
        # (group, value) pairs actually grow (exact ks_grouped's shuffle
        # carries them; unperturbed replicas would fake flatness), plus
        # one fitted-detector detect() (VERDICT r8 #9) — the
        # fit-once/detect-cheap monitoring shape at 10×.
        events10 = (
            events.crossJoin(F.broadcast(reps))
            .select(
                (F.col("event_id") * 10 + F.col("rep")).alias("event_id"),
                "event_type",
                F.round(F.col("value") + F.col("rep") * 0.001, 6).alias("value"),
                (F.col("user_id") / 7.0).alias("u"),
            )
            .persist()
        )
        ev_n10 = events10.count()
        ev_base10 = events10.filter(F.col("event_id") % 2 == 0)
        ev_cur10 = events10.filter(F.col("event_id") % 2 == 1)

        def _grouped(fn_name):
            from truthound_spark.drift import detectors as D

            def run():
                getattr(D, fn_name)(
                    ev_base10, ev_cur10, "value", "event_type"
                ).collect()

            return run

        # r15 (VERDICT r14 #7): mid-scale rows for the five suite entries
        # whose 8-core/32-core ratio sits at ~1 at sf0.1 (overhead-bound
        # at toy scale, NOT serial) and that had no sf1/sf10 presence —
        # the 10× point lets the driver's scaling block tell the two
        # apart. Bodies are the suite entries' own, over the 10× corpora.
        embeddings10 = (
            embeddings.crossJoin(F.broadcast(reps))
            .select(
                (F.col("vec_id") * 10 + F.col("rep")).alias("vec_id"),
                F.expr(
                    "transform(embedding, (x, i) -> "
                    "IF(i = rep % size(embedding), "
                    "cast(x + (rep + 1) * 0.0003 as float), x))"
                ).alias("embedding"),
                "label",
            )
            .persist()
        )
        e10 = embeddings10.count()

        def sf1_decontamination():
            from truthound_spark.pipeline.dedup import decontaminate

            decontaminate(
                documents10.filter(F.col("doc_id") % 2 == 0),
                documents10.filter(F.col("doc_id") % 2 == 1),
            ).count()

        def sf1_embedding_topk():
            from truthound_spark.pipeline.similarity import brute_force_topk

            q = embeddings10.filter(F.col("vec_id") < 8)
            brute_force_topk(embeddings10, q, k=10).count()

        def sf1_self_dedup():
            from truthound_spark.pipeline.dedup import self_dedup_spans

            self_dedup_spans(documents10, n=8).agg(
                F.sum("removed_tokens"), F.count(F.lit(1))
            ).collect()

        def sf1_dsir():
            from truthound_spark.pipeline.text import dsir_select

            dsir_select(
                documents10,
                documents10.filter(F.col("lang") == "en"),
                n_select=1000,
            ).count()

        def sf1_psi_drift():
            from truthound_spark.drift.detectors import psi

            psi(ev_base10, ev_cur10, "value")

        def sf1_fitted_detect():
            from truthound_spark.ml.feature_drift import FeatureDriftDetector

            det = FeatureDriftDetector().fit(
                ev_base10.select("value", "u")
            )
            t0 = time.time()
            det.detect(ev_cur10.select("value", "u"))
            sf1_lane["fitted_feature_drift_detect"] = round(time.time() - t0, 3)

        lane_canary_sample(spark, sf1_lane, "start")
        for nm, fn in (
            ("minhash_dedup", sf1_minhash),
            ("bpe_train_tokenize", sf1_bpe),
            ("tag_documents_fused", sf1_tagger),
            ("logreg_train", sf1_logreg),
            ("auc", sf1_auc),
            ("threshold_sweep", sf1_threshold_sweep),
            ("corpus_composition", sf1_composition),
            ("weighted_sample", sf1_weighted_sample),
            ("grouped_psi", _grouped("psi_grouped")),
            ("grouped_js", _grouped("js_grouped")),
            ("grouped_ks_exact", _grouped("ks_grouped")),
            ("grouped_wasserstein", _grouped("wasserstein_grouped")),
            ("grouped_chi_square", _grouped("chi_square_grouped")),
            ("decontamination", sf1_decontamination),
            ("embedding_topk", sf1_embedding_topk),
            ("self_dedup_spans", sf1_self_dedup),
            ("dsir_select", sf1_dsir),
            ("psi_drift", sf1_psi_drift),
        ):
            t0 = time.time()
            fn()
            sf1_lane[nm] = round(time.time() - t0, 3)
            _release_caches()
        sf1_fitted_detect()  # times only detect(); fit is outside
        lane_canary_sample(spark, sf1_lane, "end")
        finish_lane_canary(sf1_lane, best_canary)
        sf1_lane["rows"] = n10
        sf1_lane["events_rows"] = ev_n10
        sf1_lane["embedding_rows"] = e10
        documents10.unpersist()
        events10.unpersist()
        embeddings10.unpersist()

    # --- sf10 lane (VERDICT r9 #2): one more decade for the five
    # heaviest corpus ops — 100× documents (500k docs) / 100× embeddings
    # (200k vectors) built the same replica-perturbed way as the sf1
    # lane, so "≈ linear" claims rest on a 3-point (1×/10×/100×) series
    # instead of a 2-point fit. Single cold pass per op (this lane
    # measures scaling shape, not warm-cache latency). Each op's
    # `x_vs_sf1` ratio rides along: ~10 = linear in data, <10 =
    # sublinear, >>10 = a hidden driver-side or skew cost that a real
    # 100× would hit harder. Disable with SPARK_GRAFT_SF10_LANE=0.
    sf10_lane: dict = {}
    if (
        os.environ.get("SPARK_GRAFT_SF10_LANE", "1") != "0"
        and os.environ.get("SPARK_GRAFT_SF1_LANE", "1") != "0"
    ):
        reps100 = spark.range(100).select(F.col("id").cast("int").alias("rep"))
        documents100 = (
            documents.crossJoin(F.broadcast(reps100))
            .select(
                (F.col("doc_id") * 100 + F.col("rep")).alias("doc_id"),
                F.concat_ws(
                    " ",
                    F.expr(
                        "transform(split(text, ' '), (w, i) -> "
                        "IF((i + rep) % 7 = 0, concat(w, '_', rep), w))"
                    ),
                ).alias("text"),
                "lang",
                "source",
                "n_chars",
            )
            .persist()
        )
        n100 = documents100.count()
        embeddings100 = (
            embeddings.crossJoin(F.broadcast(reps100))
            .select(
                (F.col("vec_id") * 100 + F.col("rep")).alias("vec_id"),
                # perturb one component per replica so the 100 copies are
                # distinct points, not a degenerate 100×-duplicate cloud
                F.expr(
                    "transform(embedding, (x, i) -> "
                    "IF(i = rep % size(embedding), "
                    "cast(x + (rep + 1) * 0.0003 as float), x))"
                ).alias("embedding"),
                "label",
            )
            .persist()
        )
        e100 = embeddings100.count()

        # minhash/clusters run the LANE DEFAULT path (VERDICT r12 #4):
        # corpus materialized as parquet once per machine (content is
        # deterministic in SF_DIR), shingle layout written per run
        # (in-memory catalog forgets tables across sessions; cost
        # recorded as shingle_layout_write, amortized in production),
        # then the ops auto-detect the bucketed layout via
        # find_shingle_layout — measured 46.4 s bucketed vs 62.4 s
        # inline at this corpus in r12.
        docs100_path = os.path.join(
            tempfile.gettempdir(),
            f"spark_graft_docs100_{os.path.basename(SF_DIR)}",
        )
        if not os.path.exists(os.path.join(docs100_path, "_SUCCESS")):
            documents100.write.mode("overwrite").parquet(docs100_path)
        docs100_scan = spark.read.parquet(docs100_path)

        def sf10_shingle_layout():
            from truthound_spark.layout import attach_layout
            from truthound_spark.pipeline.dedup import (
                find_shingle_layout,
                write_shingle_layout,
            )

            # attach-first (r13): recover a previous run's layout from
            # its sidecar, then let the fingerprint probe decide whether
            # it matches THIS corpus (docs100 parquet is written once per
            # machine, so from run 2 on the attach is valid); any miss
            # falls back to a fresh write into the DEFAULT layout
            # database — the ops below then auto-detect it with NO
            # opt-in (shingle_table="auto" is the default). Table name
            # carries the SF tag: a layout of another scale factor's
            # corpus must never be the one probed/overwritten here.
            sh_table = (
                "bench_docs100_shingles_"
                + os.path.basename(SF_DIR).replace(".", "_")
            )
            try:
                attach_layout(
                    spark,
                    os.path.join(
                        tempfile.gettempdir(),
                        "truthound_layout_truthound_layout",
                        sh_table,
                    ),
                )
            except Exception:
                pass
            if find_shingle_layout(docs100_scan) is not None:
                sf10_lane["shingle_layout_attached"] = True
                return
            sf10_lane["shingle_layout_attached"] = False
            write_shingle_layout(docs100_scan, sh_table)

        def sf10_minhash():
            from truthound_spark.pipeline.dedup import (
                find_shingle_layout,
                minhash_dedup_pairs,
            )

            # record whether the default "auto" probe engages the layout
            # (metadata-only) so the lane's bucketed-read claim is
            # auditable in the record, not assumed
            sf10_lane["minhash_layout_autodetected"] = bool(
                find_shingle_layout(docs100_scan)
            )
            minhash_dedup_pairs(
                docs100_scan, threshold=0.7, num_hashes=64, bands=32
            ).count()

        def sf10_clusters():
            from truthound_spark.pipeline.dedup import dedup_clusters

            # NOTE (VERDICT r13 plan audit): this re-runs the whole pair
            # stage minhash_dedup just ran — INTENTIONAL. Each lane entry
            # must be self-contained so its number is attributable to one
            # op; do not "optimize" this into a cross-entry dependency
            # (sharing the pair relation would make dedup_clusters'
            # recorded time depend on whether minhash ran first).
            dedup_clusters(
                docs100_scan, threshold=0.7, num_hashes=64, bands=32
            ).filter(~F.col("is_canonical")).count()

        def sf10_tagger():
            from truthound_spark.pipeline.text import tag_documents

            tag_documents(documents100).agg(
                F.avg("quality_score"), F.avg("classifier_score")
            ).collect()

        def sf10_bpe():
            from truthound_spark.pipeline.tokenizer import bpe_token_counts, bpe_train

            merges = bpe_train(documents100, rounds=6)
            bpe_token_counts(documents100, merges).agg(F.sum("n_tokens")).collect()

        def sf10_pq():
            from truthound_spark.pipeline.similarity import pq_search, pq_train

            books = pq_train(embeddings100, m=8, k=16, iters=1)
            q = embeddings100.filter(F.col("vec_id") < 8).withColumnRenamed(
                "vec_id", "query_id"
            )
            pq_search(embeddings100, q, books, k=10).count()

        # linearity ratios: vs the sf1 lane (10× data → ~10 = linear)
        # where the op runs there, else vs the sf0.1 warm median
        # (100× data → ~100 = linear; far less = fixed overhead
        # dominates the small scale, which is itself the finding).
        sf01_keys = {
            "dedup_clusters": "dedup_clusters_documents",
            "pq_train_search": "pq_train_search",
        }
        # wall-clock budget: the lane measured ~18 min of op time on its
        # first full run — bounded here so a slow machine can never turn
        # the per-round bench into an unbounded job (ops are launched
        # while under budget; anything skipped is recorded, not silent).
        sf10_budget = float(os.environ.get("SPARK_GRAFT_SF10_BUDGET", "1800"))
        lane_canary_sample(spark, sf10_lane, "start")
        lane_t0 = time.time()
        # cheapest-first so a budget cut costs the fewest data points
        for nm, fn in (
            ("pq_train_search", sf10_pq),
            ("bpe_train_tokenize", sf10_bpe),
            ("shingle_layout_write", sf10_shingle_layout),
            ("minhash_dedup", sf10_minhash),
            ("dedup_clusters", sf10_clusters),
            ("tag_documents_fused", sf10_tagger),
        ):
            if time.time() - lane_t0 > sf10_budget:
                sf10_lane[f"{nm}_skipped_budget"] = True
                continue
            t0 = time.time()
            fn()
            sf10_lane[nm] = round(time.time() - t0, 3)
            _release_caches()
            if sf1_lane.get(nm):
                sf10_lane[f"{nm}_x_vs_sf1"] = round(
                    sf10_lane[nm] / sf1_lane[nm], 2
                )
            elif timings.get(sf01_keys.get(nm, "")):
                sf10_lane[f"{nm}_x_vs_sf01"] = round(
                    sf10_lane[nm] / timings[sf01_keys[nm]], 2
                )
        # production increment path at the 100× corpus (VERDICT r12 #3):
        # index 495k docs once (one-time cost RECORDED, not hidden),
        # then dedup the 5k delta against the stored index — the row the
        # amortization claim (increments in delta-sized time) rests on.
        if time.time() - lane_t0 <= sf10_budget:
            from truthound_spark.pipeline.dedup import incremental_dedup_indexed

            base100 = documents100.filter(F.col("doc_id") % 100 != 0)
            delta100 = documents100.filter(F.col("doc_id") % 100 == 0)
            loc100 = os.path.join(
                tempfile.gettempdir(),
                f"spark_graft_bench_dedup_idx10_{os.path.basename(SF_DIR)}",
            )
            # attach-first, like the sf0.1 index: index content is a pure
            # function of the (deterministic) docs100 corpus
            t0 = time.time()
            idx100 = None
            try:
                from truthound_spark.layout import attach_layout_database

                names100 = {
                    t.split(".")[-1]
                    for t in attach_layout_database(
                        spark, loc100, database="truthound_bench_idx10"
                    )
                }
                want100 = {
                    "bench_docs_sf10_fingerprints",
                    "bench_docs_sf10_shingles",
                    "bench_docs_sf10_lsh",
                }
                if want100 <= names100:
                    idx100 = {
                        k: f"truthound_bench_idx10.bench_docs_sf10_{k}"
                        for k in ("fingerprints", "shingles", "lsh")
                    }
                    # banding-version gate (r14): stale-version index →
                    # raise → fresh write below
                    _check_dedup_index_version(spark, idx100["lsh"])
                    sf10_lane["dedup_index_attached"] = True
            except Exception:
                idx100 = None
            if idx100 is None:
                sf10_lane["dedup_index_attached"] = False
                idx100 = write_dedup_index(
                    base100, "bench_docs_sf10", database="truthound_bench_idx10",
                    location=loc100,
                )
            sf10_lane["dedup_index_write"] = round(time.time() - t0, 3)
            t0 = time.time()
            incremental_dedup_indexed(delta100, idx100, threshold=0.7).count()
            sf10_lane["incremental_dedup_indexed"] = round(time.time() - t0, 3)
            _release_caches()
            if timings.get("incremental_dedup_indexed"):
                sf10_lane["incremental_dedup_indexed_x_vs_sf01"] = round(
                    sf10_lane["incremental_dedup_indexed"]
                    / timings["incremental_dedup_indexed"],
                    2,
                )
        else:
            sf10_lane["incremental_dedup_indexed_skipped_budget"] = True
        lane_canary_sample(spark, sf10_lane, "end")
        finish_lane_canary(sf10_lane, best_canary)
        sf10_lane["rows"] = n100
        sf10_lane["embedding_rows"] = e100
        documents100.unpersist()
        embeddings100.unpersist()

    # --- core-suite scale decades (VERDICT r10 #1): the flagship fused
    # check() path — null_suite / fused_suite / mixed_core_suite /
    # schema learn+validate / FK orphans — measured at sf1 (6M lineitem)
    # and sf10 (60M lineitem) so the single-agg design claim (SURVEY
    # §4.3) rests on a THREE-decade series, not a single sf0.1 point.
    # Tables are replicated with FK-CONSISTENT key scaling (l_orderkey /
    # o_orderkey / c_custkey → key*mult + rep), written once to parquet
    # (reused across runs — content is deterministic in (SF_DIR, mult))
    # so every measured plan contains a REAL columnar scan with pushdown
    # and pruning, not an in-memory replica. Single cold pass per query
    # (scaling shape, not warm latency); per-query x_vs_sf01 ratios ride
    # bench_detail.json. Disable with SPARK_GRAFT_CORE_LANE=0; bounded
    # by SPARK_GRAFT_CORE_BUDGET (skips recorded, never silent).
    core_lane: dict = {}
    if os.environ.get("SPARK_GRAFT_CORE_LANE", "1") != "0":

        def _scaled_core_tables(mult: int):
            base = os.path.join(
                tempfile.gettempdir(),
                f"spark_graft_core_decade_{os.path.basename(SF_DIR)}_x{mult}",
            )
            reps = spark.range(mult).select(F.col("id").alias("rep"))
            specs = {
                "lineitem": (lineitem, {"l_orderkey"}),
                "orders": (orders, {"o_orderkey"}),
                "customer": (customer, {"c_custkey"}),
            }
            out = {}
            for name, (df, keys) in specs.items():
                path = os.path.join(base, f"{name}.parquet")
                if not os.path.exists(os.path.join(path, "_SUCCESS")):
                    cols = [
                        (F.col(c) * mult + F.col("rep")).alias(c)
                        if c in keys
                        else F.col(c)
                        for c in df.columns
                    ]
                    df.crossJoin(F.broadcast(reps)).select(*cols).write.mode(
                        "overwrite"
                    ).parquet(path)
                out[name] = spark.read.parquet(path)
            return out

        # 900 → 1200 (r14): the delta-crossover row's one-time layout
        # writes measured ~240 s at the 60M decade (SCALING.md r13);
        # on a cold machine the old budget would skip the row on its
        # debut run. Warm machines attach instead (~0.3 s) and never
        # approach either bound.
        core_budget = float(os.environ.get("SPARK_GRAFT_CORE_BUDGET", "1200"))
        core_t0 = time.time()
        for label, mult in (("sf1", 10), ("sf10", 100)):
            if time.time() - core_t0 > core_budget:
                core_lane[f"{label}_skipped_budget"] = True
                continue
            tabs = _scaled_core_tables(mult)
            li, od, cu = tabs["lineitem"], tabs["orders"], tabs["customer"]
            # the timed warm-up count doubles as the lane's I/O-state
            # reading (r13): the CPU canary cannot see page-cache state,
            # and the r12/r13 core-decade swings (mixed_core_suite
            # 17.9→28.7→39.7 s under FLAT canaries) turned out to be
            # exactly that — the sf10 lane's multi-GB artifacts evict the
            # decade parquet from cache, so its first scan pays disk. A
            # high scan_warmup_seconds says the decade started I/O-cold;
            # isolated idle re-runs of the same code read 17-22 s
            # (SCALING.md r13).
            # the warm-up must READ DATA PAGES to be an I/O-state probe:
            # a bare parquet count() answers from file footers, so it
            # read ~0.1 s cache-warm AND cache-cold (r14 finding: three
            # same-evening runs swung fk_orphans 11.2→17.5 s under flat
            # canaries while this instrument read 0.1 every time — it
            # was measuring footer metadata, not the cache). One real
            # column aggregate scans ~8 bytes/row and shows the state.
            t0 = time.time()
            warm_row = li.agg(
                F.count(F.lit(1)).alias("n"), F.sum("l_quantity").alias("s")
            ).collect()[0]
            n_rows = warm_row["n"]
            decade: dict = {
                "lineitem_rows": n_rows,
                "scan_warmup_seconds": round(time.time() - t0, 3),
            }
            # per-decade canary bracket (the relayout write above is
            # excluded — it runs at most once per machine): a decade
            # whose queries swung vs last round under a flat bracket is
            # a commit; under an elevated one it is the machine
            lane_canary_sample(spark, decade, "start")

            def _null(li=li):
                BatchExpressionExecutor([NullValidator()]).execute(li)

            def _fused(li=li):
                BatchExpressionExecutor(suite_12()).execute(li)

            def _mixed(li=li):
                BatchExpressionExecutor(
                    [
                        NullValidator(columns=["l_quantity", "l_extendedprice"]),
                        UniqueValidator(columns=["l_orderkey"]),
                        RangeValidator("l_quantity", 1, 30),
                    ]
                ).execute(li)

            def _schema(cu=cu):
                from truthound_spark.schema import learn, validate_against

                sch = learn(cu.limit(2000))
                validate_against(cu, sch)

            def _fk(li=li, od=od):
                li.join(
                    od.select("o_orderkey").dropDuplicates(),
                    li.l_orderkey == F.col("o_orderkey"),
                    "left_anti",
                ).count()

            for nm, fn in (
                ("null_suite", _null),
                ("fused_suite", _fused),
                ("mixed_core_suite", _mixed),
                ("schema_learn_validate", _schema),
                ("fk_orphans_join", _fk),
            ):
                if time.time() - core_t0 > core_budget:
                    decade[f"{nm}_skipped_budget"] = True
                    continue
                t0 = time.time()
                fn()
                decade[nm] = round(time.time() - t0, 3)
                if timings.get(nm):
                    decade[f"{nm}_x_vs_sf01"] = round(decade[nm] / timings[nm], 2)
            # delta-validation crossover at the decade scale (VERDICT r13
            # #4): the r13 headline scale win (60M rows: 29.8 → 7.7 s via
            # keys-bucketed store + key-bucketed snapshot, beating the
            # 10.1 s expensive-audit bar) lived only in SCALING.md prose
            # and benchmarks/delta_fpstore_bench.py — recorded here so the
            # driver's series can see it. Attach-first: the store and the
            # bucketed "new" snapshot are pure functions of the
            # deterministic decade tables, written once per machine; the
            # one-time write cost is recorded alongside, like
            # dedup_index_write.
            if time.time() - core_t0 <= core_budget:
                from truthound_spark.delta import (
                    delta_check,
                    write_fingerprints_table,
                )
                from truthound_spark.layout import (
                    attach_layout_database,
                    write_bucketed,
                )

                dkeys = ["l_orderkey", "l_linenumber"]
                # 0.1% of rows modified — the delta the check must find
                dnew = li.withColumn(
                    "l_quantity",
                    F.when(
                        F.xxhash64(*dkeys) % 1000 == 0,
                        F.col("l_quantity") + 1000,
                    ).otherwise(F.col("l_quantity")),
                )
                sf_tag = os.path.basename(SF_DIR).replace(".", "_")
                ddb = f"truthound_fp_decade_{label}"
                dloc = os.path.join(
                    tempfile.gettempdir(),
                    f"spark_graft_fp_decade_{sf_tag}_{label}",
                )
                fp_name = f"fp_{sf_tag}_{label}_keys"
                new_name = f"lineitem_new_{sf_tag}_{label}"
                t0 = time.time()
                attached = False
                try:
                    names = {
                        t.split(".")[-1]
                        for t in attach_layout_database(
                            spark, dloc, database=ddb
                        )
                    }
                    attached = {fp_name, new_name} <= names
                except Exception:
                    attached = False
                if not attached:
                    write_fingerprints_table(
                        li, fp_name, dkeys, database=ddb, location=dloc,
                        bucket_by="keys",
                    )
                    write_bucketed(
                        dnew, new_name, dkeys, database=ddb, location=dloc
                    )
                decade["delta_fp_attached"] = attached
                decade["delta_fp_store_write"] = round(time.time() - t0, 3)
                cheap = [
                    NullValidator(columns=["l_quantity", "l_extendedprice"]),
                    RangeValidator("l_discount", 0.0, 0.1),
                ]
                new_tbl = spark.table(f"{ddb}.{new_name}")
                # best-of-2 like benchmarks/delta_fpstore_bench.py (the
                # protocol the crossover claim was measured under): on a
                # write-fresh machine the single first pass reads the
                # just-written, uncached 60M store (+30% observed) —
                # both passes are recorded, the steady-state one is the
                # headline
                passes = []
                for _ in range(2):
                    t0 = time.time()
                    _, dstats = delta_check(
                        None, new_tbl, dkeys, cheap,
                        old_fingerprints=f"{ddb}.{fp_name}",
                    )
                    passes.append(round(time.time() - t0, 3))
                decade["delta_check_fp_colocated"] = min(passes)
                decade["delta_check_fp_colocated_first"] = passes[0]
                decade["delta_rows"] = dstats["row_count"]
                # the bar the crossover claim is measured against: the
                # expensive full-snapshot audit (regex + set + range
                # battery) delta validation must beat to be worth running
                # — recorded in the SAME run so the row is
                # self-interpreting (delta wins iff delta < bar)
                from truthound_spark.validators.distribution import (
                    InSetValidator,
                )
                from truthound_spark.validators.string import RegexValidator

                expensive = [
                    RegexValidator("l_returnflag", r"^[ARN]$"),
                    RegexValidator("l_linestatus", r"^[OF]$"),
                    InSetValidator("l_returnflag", ["A", "R", "N"]),
                    RangeValidator("l_quantity", 0, 2000),
                    RangeValidator("l_extendedprice", 0, 1e8),
                    NullValidator(),
                ]
                t0 = time.time()
                BatchExpressionExecutor(expensive).execute(dnew)
                decade["audit_bar_expensive"] = round(time.time() - t0, 3)
            else:
                decade["delta_check_fp_colocated_skipped_budget"] = True
            # FK orphans over bucketed layouts at the decade (VERDICT r14
            # #5): the Exchange-free co-located anti-join is oracle-
            # certified (attached_layout_fk_orphans) but the core lane
            # only ever measured the un-laid-out path. Record the decade
            # row attach-first like the dedup lanes: the one-time layout
            # write cost rides as fk_layout_write (outside the row's
            # timer), the timed row streams matching bucket files with no
            # Exchange before the join.
            if time.time() - core_t0 <= core_budget:
                from truthound_spark.layout import (
                    attach_layout_database as _attach_db,
                    fk_orphans_bucketed,
                    write_bucketed as _write_bucketed,
                )

                fk_tag = os.path.basename(SF_DIR).replace(".", "_")
                fdb = f"truthound_fk_decade_{label}"
                floc = os.path.join(
                    tempfile.gettempdir(),
                    f"spark_graft_fk_decade_{fk_tag}_{label}",
                )
                li_name = f"fk_li_{fk_tag}_{label}"
                od_name = f"fk_od_{fk_tag}_{label}"
                t0 = time.time()
                fk_attached = False
                try:
                    names = {
                        t.split(".")[-1]
                        for t in _attach_db(spark, floc, database=fdb)
                    }
                    fk_attached = {li_name, od_name} <= names
                except Exception:
                    fk_attached = False
                if not fk_attached:
                    # bucket count derives from the session's core count
                    # (scale knob, recorded in the layout sidecar; attach
                    # runs re-use whatever is on disk)
                    _write_bucketed(
                        li.select("l_orderkey", "l_quantity"), li_name,
                        "l_orderkey", buckets=max(int(CPUS), 8),
                        database=fdb, location=floc,
                    )
                    _write_bucketed(
                        od.select(F.col("o_orderkey").alias("l_orderkey")),
                        od_name, "l_orderkey", buckets=max(int(CPUS), 8),
                        database=fdb, location=floc,
                    )
                decade["fk_layout_attached"] = fk_attached
                decade["fk_layout_write"] = round(time.time() - t0, 3)
                t0 = time.time()
                fk_orphans_bucketed(
                    spark, f"{fdb}.{li_name}", f"{fdb}.{od_name}",
                    "l_orderkey",
                ).count()
                decade["fk_orphans_bucketed"] = round(time.time() - t0, 3)
            else:
                decade["fk_orphans_bucketed_skipped_budget"] = True
            lane_canary_sample(spark, decade, "end")
            finish_lane_canary(decade, best_canary)
            core_lane[label] = decade

    # headline = sum of per-query WARM times (best-of-2, comparable to
    # BASELINE.md's warm-run protocol; sf1 lane excluded — different data
    # scale). The cold first-pass timings and their total ride along
    # (ADVICE r3) so a round-over-round comparison can be made under
    # EITHER protocol — the headline protocol change in r3 is thereby
    # auditable, not silent.
    total = round(sum(timings.values()), 4)
    cold_total = round(sum(cold_timings.values()), 4)
    sf = SF_DIR.rstrip("/").rsplit("sf", 1)[-1]
    try:
        sf_val = float(sf)
    except ValueError:
        sf_val = None
    # Full payload (warm + cold per-query) goes to a side file; the final
    # stdout line must stay well under the driver's 2000-char tail buffer
    # (r5's line with queries_cold inline exceeded it → "parsed": null),
    # so it carries the warm per-query map + cold total only, rounded to
    # 3 decimals.
    # per-query pin vs the best recorded round (VERDICT r7 #2): ratios of
    # this round's MEDIAN to the historical per-query minimum. The full
    # map goes to bench_detail.json; the stdout line carries only ratios
    # > 1.5 capped at the worst 5 (the 2000-char driver tail budget) —
    # medians compare against old best-ofs, so modest ratios are the
    # protocol change, not regressions; the warm samples disambiguate.
    repo_dir = os.path.dirname(os.path.abspath(__file__))
    best = best_recorded_queries(repo_dir)
    ratios = {
        k: round(v / best[k], 2)
        for k, v in timings.items()
        if k in best and best[k] > 0
    }
    # canary normalization (VERDICT r10 #2): each ratio also reported
    # divided by this round's canary load factor — an ambient-load round
    # moves raw ratios AND the canary together, so the normalized map
    # stays flat; a genuine regression moves only its own query.
    ratios_normalized, load_factor = normalize_ratios(
        ratios, canary_seconds, best_canary
    )
    flagged = dict(
        sorted(
            ((k, r) for k, r in ratios.items() if r > 1.5),
            key=lambda kv: -kv[1],
        )[:5]
    )
    detail = {
        "metric": "suite_seconds",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "queries_warm_samples": WARM_SAMPLES,
        "cold_value": cold_total,
        "queries_cold": cold_timings,
        "best_recorded": best,
        "canary": {
            "seconds": canary_seconds,
            "seconds_start": canary_start_seconds,
            "seconds_mid": canary_mid_seconds,
            "seconds_end": canary_end_seconds,
            "bracket_spread": canary_bracket_spread,
            "cold": canary_cold.get("canary"),
            "best_recorded": best_canary,
            "load_factor": load_factor,
            "rows": CANARY_ROWS,
        },
        "shuffle_canary": {
            "seconds": min(shuffle_canary_start, shuffle_canary_end),
            "seconds_start": shuffle_canary_start,
            "seconds_end": shuffle_canary_end,
            "bracket_spread": round(
                max(shuffle_canary_start, shuffle_canary_end)
                / max(min(shuffle_canary_start, shuffle_canary_end), 1e-9),
                3,
            ),
            "rows": SHUFFLE_CANARY_ROWS,
        },
        "bench_regressions": ratios,
        "bench_regressions_normalized": ratios_normalized,
        "regression_dispositions": {
            k: v for k, v in REGRESSION_DISPOSITIONS.items() if ratios.get(k, 0) > 1.5
        },
        "spread_guard": {
            "rule": (
                "when max/min of the 3 warm samples exceeds "
                f"{SPREAD_GUARD_RATIO}x, one extra pass is taken, the "
                "SLOWEST of the four samples is dropped, and the median is "
                "over the remaining three - neither a still-cold first "
                "'warm' pass nor late-arriving contention can median into "
                "a recorded pin (VERDICT r9 #1)"
            ),
            "ratio": SPREAD_GUARD_RATIO,
            "applied": SPREAD_GUARD_APPLIED,
        },
        "sf": sf_val,
        # one-time base-index build the incremental_dedup_indexed entry
        # amortizes (outside its query timers, recorded here)
        "dedup_index_write_seconds": dedup_index_write_seconds,
        "sf1_lane": sf1_lane,
        "sf10_lane": sf10_lane,
        "core_lane": core_lane,
    }
    # VERDICT r13 #2: foreign (driver/smoke) runs kept overwriting the
    # committed bench_detail.json in the working tree. Default runs now
    # write the gitignored *.latest.json; the committed artifact is only
    # touched when the builder opts in with SPARK_GRAFT_COMMIT_DETAIL=1.
    detail_name = (
        "bench_detail.json"
        if os.environ.get("SPARK_GRAFT_COMMIT_DETAIL") == "1"
        else "bench_detail.latest.json"
    )
    try:
        with open(
            os.path.join(os.path.dirname(os.path.abspath(__file__)), detail_name),
            "w",
        ) as fh:
            json.dump(detail, fh, indent=1)
    except OSError:
        pass
    print(build_summary_line(detail, flagged))
    spark.stop()


if __name__ == "__main__":
    main()
