"""bench.py warm-sample spread guard (VERDICT r9 #1) — rule pins.

Importing bench.py defines its helpers without starting Spark or
running main(); these tests pin the guard's trigger condition and its
drop-the-slowest semantics against the two motivating series."""

from __future__ import annotations

import importlib.util
import os
import sys


def _bench():
    path = os.path.join(os.path.dirname(__file__), "..", "bench.py")
    spec = importlib.util.spec_from_file_location("bench_under_test", path)
    mod = importlib.util.module_from_spec(spec)
    sys.modules["bench_under_test"] = mod
    spec.loader.exec_module(mod)
    return mod


def test_guard_triggers_only_past_ratio():
    b = _bench()
    assert b.spread_guard_triggers([13.6, 3.74, 0.78])  # 17x spread
    assert b.spread_guard_triggers([0.80, 0.79, 3.2])  # late contention
    assert not b.spread_guard_triggers([1.0, 1.2, 0.9])  # tight series
    assert not b.spread_guard_triggers([1.0, 2.9, 1.5])  # under 3x
    assert not b.spread_guard_triggers([0.0, 1.0, 1.0])  # degenerate min


def test_guard_drops_slowest_not_first():
    b = _bench()
    # the r9 pin series: cold first pass — extra pass came in warm
    kept = b.apply_spread_guard([13.6, 3.74, 0.78, 0.82])
    assert sorted(kept) == [0.78, 0.82, 3.74]
    assert sorted(kept)[1] < 1.0  # median no longer polluted
    # late contention: dropping the FIRST would median 3.0 into the pin
    kept = b.apply_spread_guard([0.80, 0.79, 3.2, 3.0])
    assert sorted(kept) == [0.79, 0.80, 3.0]
    assert sorted(kept)[1] == 0.80  # median = clean sample


def test_sf10_lane_env_defaults():
    b = _bench()
    # the lane and its budget knob exist (regression guard for the
    # driver-run default path)
    assert b.SPREAD_GUARD_RATIO == 3.0
    src = open(os.path.join(os.path.dirname(__file__), "..", "bench.py")).read()
    assert "SPARK_GRAFT_SF10_BUDGET" in src
    assert "skipped_budget" in src


def test_canary_normalization_rule():
    """VERDICT r10 #2: ratios divide by the canary's own round-over-best
    ratio — ambient load moves both together (normalized flat), a real
    regression moves only its query (normalized still flags it)."""
    b = _bench()
    ratios = {"a": 1.3, "b": 1.25, "real_regression": 2.6}
    # ambient-load round: canary 30% slower than its best
    norm, load = b.normalize_ratios(ratios, canary_seconds=1.3, best_canary=1.0)
    assert load == 1.3
    assert norm["a"] == 1.0 and norm["b"] == 0.96  # drift explained away
    assert norm["real_regression"] == 2.0  # still flagged after normalizing
    # idle round: canary at its best → normalization is the identity
    norm, load = b.normalize_ratios(ratios, canary_seconds=1.0, best_canary=1.0)
    assert load == 1.0 and norm == ratios
    # no canary history yet → identity with load 1.0
    norm, load = b.normalize_ratios(ratios, canary_seconds=1.2, best_canary=None)
    assert load == 1.0 and norm == ratios


def test_best_recorded_canary_parses_history(tmp_path):
    import json

    b = _bench()
    (tmp_path / "BENCH_r11.json").write_text(
        json.dumps({"parsed": {"canary": 1.4}})
    )
    (tmp_path / "BENCH_r12.json").write_text(
        json.dumps({"parsed": {"canary": 1.1}})
    )
    (tmp_path / "BENCH_r13.json").write_text(json.dumps({"parsed": {}}))
    (tmp_path / "BENCH_r14.json").write_text("not json")
    assert b.best_recorded_canary(str(tmp_path)) == 1.1
    assert b.best_recorded_canary(str(tmp_path / "empty_missing")) is None


def test_canary_is_pinned_and_io_free():
    """The canary must never be edited: pin its constants and assert its
    plan uses no file source (spark.range only)."""
    b = _bench()
    assert b.CANARY_ROWS == 10_000_000
    assert b.CANARY_SEED == 0x5EED11
    import inspect

    src = inspect.getsource(b.canary_fn)
    assert "spark.range" in src and "read" not in src and "parquet" not in src


def test_core_decades_lane_wired():
    src = open(os.path.join(os.path.dirname(__file__), "..", "bench.py")).read()
    assert "SPARK_GRAFT_CORE_LANE" in src
    assert "SPARK_GRAFT_CORE_BUDGET" in src
    assert "core_lane" in src


def test_bracket_canary_rule():
    """r11: min of the start/end canary drives normalization; the spread
    records intra-run burstiness a single start-of-run sample misses."""
    b = _bench()
    lo, spread = b.bracket_canary(0.42, 0.42)
    assert lo == 0.42 and spread == 1.0
    # burst arrived mid-run: end canary slower
    lo, spread = b.bracket_canary(0.42, 1.26)
    assert lo == 0.42 and spread == 3.0
    # burst present at start, gone by the end
    lo, spread = b.bracket_canary(1.26, 0.42)
    assert lo == 0.42 and spread == 3.0
    # degenerate zero never divides
    lo, spread = b.bracket_canary(0.0, 0.5)
    assert spread == 1.0


def test_bracket_canary_mid_sample():
    import bench as b

    # the mid sample participates in both the min and the spread
    lo, spread = b.bracket_canary(0.42, 0.44, 0.40)
    assert lo == 0.40 and spread == round(0.44 / 0.40, 3)
    # a burst visible ONLY at the mid sample still widens the spread
    lo, spread = b.bracket_canary(0.42, 0.42, 1.3)
    assert lo == 0.42 and spread == round(1.3 / 0.42, 3)


def _maximal_detail():
    """Worst-case bench_detail shape: every lane populated with MORE keys
    than r13 shipped, 5 flagged regressions with long names, 50 queries."""
    queries = {f"very_long_query_name_{i:02d}_documents": 1.234 + i for i in range(50)}
    sf1 = {f"lane_op_{i:02d}": 12.345 for i in range(20)}
    sf1.update(
        minhash_dedup=123.456, bpe_train_tokenize=99.9,
        tag_documents_fused=88.8, canary_start=0.4, canary_end=0.41,
        canary_spread=1.02, canary_load_factor=1.001, rows=60_000_000,
        events_rows=12_000_000,
    )
    sf10 = dict(sf1)
    sf10.update(
        dedup_clusters=66.6, incremental_dedup_indexed=5.3,
        delta_check_fp_colocated=7.7, delta_fp_store_write=22.2,
        pq_train_search=9.3, embedding_rows=6_000_000,
        shingle_layout_attached=True, minhash_layout_autodetected=True,
        dedup_index_attached=True,
    )
    sf10.update({f"{k}_x_vs_sf1": 9.87 for k in list(sf10)[:10]})
    core_decade = {f"core_op_{i}": 11.1 for i in range(10)}
    core_decade.update(
        mixed_core_suite=15.2, fk_orphans_join=11.3,
        scan_warmup_seconds=0.1, canary_load_factor=1.0,
        lineitem_rows=240_000_000, canary_start=0.4, canary_end=0.4,
    )
    return {
        "metric": "suite_seconds",
        "value": 50.505,
        "cold_value": 66.666,
        "sf": 0.1,
        "queries": queries,
        "canary": {"seconds": 0.412, "load_factor": 1.013},
        "shuffle_canary": {
            "seconds": 1.234,
            "seconds_start": 1.234,
            "seconds_end": 1.456,
            "bracket_spread": 1.18,
            "rows": 10_000_000,
        },
        "bench_regressions": {f"regressed_query_name_{i}": 1.6 + i for i in range(8)},
        "sf1_lane": sf1,
        "sf10_lane": sf10,
        "core_lane": {"sf1": dict(core_decade), "sf10": dict(core_decade)},
    }


def test_summary_line_hard_budget():
    """VERDICT r13 #1: the stdout line must be provably <= budget for any
    input shape — r13's line hit 2105 chars after the old ad-hoc trims
    and the driver recorded parsed=null."""
    import json

    b = _bench()
    out = b.build_summary_line(_maximal_detail())
    assert len(out) <= b.SUMMARY_LINE_BUDGET, len(out)
    parsed = json.loads(out)  # the driver must be able to parse it
    assert parsed["metric"] == "suite_seconds"
    assert parsed["value"] == 50.505
    assert parsed["queries"]  # per-query numbers survive every trim tier


def test_summary_line_keeps_lanes_when_small():
    import json

    b = _bench()
    detail = _maximal_detail()
    detail["queries"] = {"q1": 1.0, "q2": 2.0}
    detail["sf1_lane"] = {"minhash_dedup": 1.0, "canary_load_factor": 1.0}
    detail["sf10_lane"] = {"minhash_dedup": 10.0, "canary_load_factor": 1.0}
    detail["core_lane"] = {"sf10": {"mixed_core_suite": 15.2}}
    detail["bench_regressions"] = {}
    out = b.build_summary_line(detail)
    parsed = json.loads(out)
    # under budget nothing is trimmed: all lanes print in full
    assert parsed["sf1"] == {"minhash_dedup": 1.0, "canary_load_factor": 1.0}
    assert parsed["sf10"]["minhash_dedup"] == 10.0
    assert parsed["core"]["sf10"]["mixed_core_suite"] == 15.2
    assert "queries_truncated" not in parsed


def test_summary_line_r13_regression_case():
    """The exact failure: rebuild the line from the committed r13-shaped
    detail and assert it now fits (it measured 2105 chars before)."""
    import json
    import os

    b = _bench()
    path = os.path.join(os.path.dirname(__file__), "..", "bench_detail.json")
    with open(path) as fh:
        detail = json.load(fh)
    out = b.build_summary_line(detail)
    assert len(out) <= b.SUMMARY_LINE_BUDGET, len(out)
    assert json.loads(out)["queries"]


def test_summary_line_query_map_floor():
    """Even a pathological query map (200 long-named entries) terminates
    under budget via the halving floor, flagged as truncated."""
    import json

    b = _bench()
    detail = _maximal_detail()
    detail["queries"] = {
        f"pathologically_long_query_name_number_{i:03d}_documents_embeddings": float(i)
        for i in range(200)
    }
    out = b.build_summary_line(detail)
    assert len(out) <= b.SUMMARY_LINE_BUDGET
    parsed = json.loads(out)
    assert parsed.get("queries_truncated") is True
    # the slowest queries are the ones kept
    assert all(v >= 100 for v in parsed["queries"].values())


def test_shuffle_canary_pinned_and_io_free():
    """r14: the shuffle canary must never be edited (cross-round
    comparability) and must actually SHUFFLE — full-width hash keys so
    partial aggregation cannot collapse the exchange — while staying
    file-free like the CPU canary."""
    import inspect

    b = _bench()
    assert b.SHUFFLE_CANARY_ROWS == 10_000_000
    src = inspect.getsource(b.shuffle_canary_fn)
    assert "spark.range" in src and "read" not in src and "parquet" not in src
    # full-width xxhash64 keys (no modulus before the groupBy) — the
    # property that defeats map-side collapse
    assert "xxhash64" in src and "% 1024" not in src
    assert "groupBy" in src


def test_lane_cpu_canary_math_ignores_shuffle_samples():
    """finish_lane_canary's spread/load factor must stay a CPU-canary
    statistic: a shuffle sample is seconds-scale different and would
    corrupt both."""
    b = _bench()
    lane = {
        "canary_start": 0.40,
        "canary_end": 0.44,
        "canary_shuffle_start": 2.5,
        "canary_shuffle_end": 2.9,
    }
    b.finish_lane_canary(lane, best_canary=0.40)
    assert lane["canary_spread"] == 1.1  # 0.44/0.40, shuffle excluded
    assert lane["canary_load_factor"] == 1.0


def test_summary_line_carries_shuffle_canary():
    import json

    b = _bench()
    out = b.build_summary_line(_maximal_detail())
    parsed = json.loads(out)
    assert parsed["shuffle_canary"] == 1.234
