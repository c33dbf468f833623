"""Tests of the benchmark itself; they start no Spark.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import itertools
import json
import os
import re
import sys
from types import SimpleNamespace

import numpy as np
import pyarrow as pa
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import gen  # noqa: E402
import run  # noqa: E402
import workloads  # noqa: E402
from tracing import NullTracer, Tracer  # noqa: E402


def _generate_all(root: str, seed: int) -> tuple[dict, list]:
    """Write every generator's output under ``root``; return the file
    digests and the manifests."""
    base, cur, m_orders = gen.orders_tables(seed, 2_000)
    batches, m_batches = gen.orders_batches(seed, 3, 500)
    cbase, deltas, m_corpus = gen.corpus(seed, 200, 2, 10)
    tables = {"base": base, "cur": cur, "corpus": cbase}
    tables.update({f"batch{i}": t for i, t in enumerate(batches)})
    tables.update({f"delta{i}": t for i, t in enumerate(deltas)})
    digests = {}
    for name, table in tables.items():
        path = os.path.join(root, f"{name}.parquet")
        gen.write_parquet(table, path)
        digests[name] = gen.file_digest(path)
    return digests, [m_orders, m_batches, m_corpus]


def test_same_seed_gives_same_manifest_and_bytes(tmp_path):
    a = _generate_all(str(tmp_path / "a"), 7)
    b = _generate_all(str(tmp_path / "b"), 7)
    c = _generate_all(str(tmp_path / "c"), 8)
    assert a == b
    assert a[0] != c[0]


def test_metric_names_are_well_formed_and_match_the_runner():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    names = [m["name"] for m in spec["end_to_end"] + spec["per_layer"]]
    names += [w["name"] for w in spec["workloads"]]
    for name in names:
        assert re.fullmatch(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}", name), name
    assert len(names) == len(set(names))
    assert len(spec["per_layer"]) <= 128
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.per_layer_units()
    assert {w["name"] for w in spec["workloads"]} <= set(workloads.WORKLOADS)


def test_orders_faults_match_the_manifest():
    base, cur, m = gen.orders_tables(3, 5_000)
    q = cur.column("quantity")
    assert q.null_count == m["null"]["quantity"]
    assert cur.column("region").null_count == m["null"]["region"]
    assert base.column("quantity").null_count == 0
    amount = cur.column("amount").to_numpy()
    assert int((amount > 1_000).sum()) == m["range"]["amount"]
    ids = cur.column("order_id").to_numpy()
    assert len(ids) - len(np.unique(ids)) == m["unique"]["order_id"]
    shift = cur.column("discount").to_numpy() - base.column("discount").to_numpy()
    assert np.allclose(shift, 0.03, atol=1e-9)


def _exact_dedup(texts: dict[int, str]) -> tuple[set[int], list[tuple[int, int, float]]]:
    """All-pairs exact Jaccard >= threshold, resolved to clusters; returns
    (non-canonical ids, matching pairs)."""
    sh = {i: gen.shingles(t) for i, t in texts.items()}
    parent = {i: i for i in texts}

    def find(i):
        while parent[i] != i:
            i = parent[i]
        return i

    pairs = []
    for a, b in itertools.combinations(sorted(texts), 2):
        j = len(sh[a] & sh[b]) / len(sh[a] | sh[b])
        if j >= gen.DEDUP_THRESHOLD:
            pairs.append((a, b, j))
            ra, rb = find(a), find(b)
            parent[max(ra, rb)] = min(ra, rb)
    return {i for i in texts if find(i) != i}, pairs


def test_planted_duplicates_are_exactly_what_exact_dedup_finds():
    base, deltas, m = gen.corpus(5, 300, 2, 10)
    texts = dict(zip(base["doc_id"].to_pylist(), base["text"].to_pylist()))
    for d in deltas:
        texts.update(zip(d["doc_id"].to_pylist(), d["text"].to_pylist()))
    non_canonical, pairs = _exact_dedup(texts)
    assert non_canonical == set(m["duplicates"])
    # every planted pair is well clear of the threshold
    assert min(gen.planted_jaccards(base, deltas, m)) >= 0.8
    base_ids = set(base["doc_id"].to_pylist())
    for d, dups in zip(deltas, m["delta_duplicates"]):
        ids = set(d["doc_id"].to_pylist())
        flagged = {b for a, b, _ in pairs if a in base_ids and b in ids}
        assert flagged == set(dups)


# --- the correctness checks reject wrong results ----------------------------


def _issue(kind, col, n):
    return SimpleNamespace(issue_type=kind, column=col, count=n)


def _result(counts: dict):
    return SimpleNamespace(
        issues=[_issue(k, c, n) for (k, c), n in counts.items()], execution_issues=[]
    )


class _FakeSink:
    def __init__(self, counts):
        self.counts = counts
        self.results = []

    def __call__(self, df, batch_id):
        self.results.append((batch_id, _result(self.counts)))


def _microbatch(tmp_path, counts):
    wl = workloads.DqMicrobatch(str(tmp_path), 1)
    _, manifests = gen.orders_batches(1, 2, 200)
    wl.paths = ["batch-0", "batch-1"]
    wl.expected = [workloads.expected_counts(m) for m in manifests]
    wl._read = lambda path: path
    wl.sink = _FakeSink(counts(wl.expected[0]))
    wl.run_pass(NullTracer(), 0)
    return wl


def test_microbatch_check_accepts_the_manifest_and_rejects_a_wrong_count(tmp_path):
    assert _microbatch(tmp_path, dict).failed == 0
    wrong = _microbatch(tmp_path, lambda e: {k: n + 1 for k, n in e.items()})
    assert wrong.failed == 1 and wrong.attempted == 2


def _dq_batch_fakes(monkeypatch, m, wrong: str | None):
    import truthound_spark as th

    expected = workloads.expected_counts(m)
    cols = {c: None for c in gen.NUMERIC_COLUMNS + ("status", "region", "email", "created_at")}
    null_counts = {c: m["null"].get(c, 0) for c in cols}
    drifted = {c: SimpleNamespace(drifted=c == m["shifted"]) for c in workloads.DRIFT_COLUMNS}
    fakes = {
        "learn": lambda df: SimpleNamespace(row_count=m["rows"], columns=cols),
        "check": lambda df, **kw: _result(expected),
        "profile": lambda df: SimpleNamespace(
            row_count=m["rows"],
            columns={c: SimpleNamespace(null_count=n) for c, n in null_counts.items()},
        ),
        "compare": lambda b, c, **kw: drifted,
        "scan": lambda df: SimpleNamespace(findings=[SimpleNamespace(column="email")]),
    }
    broken = {
        "learn": lambda df: SimpleNamespace(row_count=m["rows"] - 1, columns=cols),
        "check": lambda df, **kw: _result({**expected, ("null_values", "quantity"): 0}),
        "profile": lambda df: SimpleNamespace(
            row_count=m["rows"], columns={c: SimpleNamespace(null_count=0) for c in cols}
        ),
        "compare": lambda b, c, **kw: {**drifted, "amount": SimpleNamespace(drifted=True)},
        "scan": lambda df: SimpleNamespace(findings=[]),
    }
    for name, fn in fakes.items():
        monkeypatch.setattr(th, name, broken[name] if name == wrong else fn)


@pytest.mark.parametrize("wrong", [None, "learn", "check", "profile", "compare", "scan"])
def test_dq_batch_checks_reject_each_wrong_result(tmp_path, monkeypatch, wrong):
    wl = workloads.DqBatch(str(tmp_path), 1)
    _, _, wl.manifest = gen.orders_tables(1, 2_000)
    wl.base = wl.cur = None
    wl.expected = workloads.expected_counts(wl.manifest)
    _dq_batch_fakes(monkeypatch, wl.manifest, wrong)
    wl.run_pass(NullTracer(), 0)
    # compare runs twice per pass (psi and ks)
    assert wl.failed == {None: 0, "compare": 2}.get(wrong, 1)
    assert wl.attempted == len(wl.calls)


class _Frame:
    def __init__(self, rows):
        self.rows = rows

    def filter(self, cond):
        return self

    def select(self, *cols):
        return self

    def collect(self):
        return [(r,) for r in self.rows]


@pytest.mark.parametrize("wrong", [None, "index", "dedup", "probe"])
def test_corpus_checks_reject_a_wrong_result(tmp_path, monkeypatch, wrong):
    from truthound_spark.pipeline import dedup

    base, deltas, m = gen.corpus(1, 200, 2, 10)
    wl = workloads.CorpusDedup(str(tmp_path), 1)
    wl.manifest = m
    wl.planted = set(m["duplicates"])
    wl.deltas = [0, 1]
    wl.base = wl.full = None
    found = sorted(wl.planted)[1:] if wrong == "dedup" else sorted(wl.planted)
    probe = m["delta_duplicates"][0][:-1] if wrong == "probe" else m["delta_duplicates"][0]
    tables = ("fingerprints", "shingles") if wrong == "index" else ("fingerprints", "shingles", "lsh")
    monkeypatch.setattr(dedup, "dedup_clusters", lambda df, **kw: _Frame(found))
    monkeypatch.setattr(dedup, "release_dedup_caches", lambda: 0)
    monkeypatch.setattr(
        dedup, "write_dedup_index", lambda df, prefix, **kw: {k: f"t_{k}" for k in tables}
    )
    monkeypatch.setattr(dedup, "incremental_dedup_indexed", lambda df, idx, **kw: _Frame(probe))
    wl.prepare(NullTracer())
    wl.run_pass(NullTracer(), 0)
    # a failed index write leaves no index to probe
    assert wl.attempted == (2 if wrong == "index" else 3)
    assert wl.failed == (0 if wrong is None else 1)


def test_failed_call_is_counted_not_raised(tmp_path):
    wl = workloads.DqMicrobatch(str(tmp_path), 1)

    def boom():
        raise RuntimeError("planted")

    assert wl.call(NullTracer(), "adapters.read", boom) is None
    assert (wl.attempted, wl.failed) == (1, 1)
    assert wl.latency["adapters.read"] == []


def _fake_spark(stages: dict):
    """A session whose status store holds one job with ``stages``
    ({stage id: (status, completed tasks, tasks)}); returns it and the
    list the listener-bus drain appends to."""
    drained = []

    def attempt(s):
        status, done, total = stages[s]
        return SimpleNamespace(
            status=lambda: SimpleNamespace(toString=lambda: status),
            numCompleteTasks=lambda: done,
            numTasks=lambda: total,
            executorRunTime=lambda: 100 * done,
            shuffleReadBytes=lambda: 0,
            shuffleWriteBytes=lambda: 0,
            diskBytesSpilled=lambda: 0,
        )

    bus = SimpleNamespace(waitUntilEmpty=lambda: drained.append(True))
    store = SimpleNamespace(lastStageAttempt=attempt)
    tracker = SimpleNamespace(
        getJobIdsForGroup=lambda group: [0],
        getJobInfo=lambda job: SimpleNamespace(stageIds=list(stages)),
    )
    sc = SimpleNamespace(
        _jsc=SimpleNamespace(sc=lambda: SimpleNamespace(listenerBus=lambda: bus, statusStore=lambda: store)),
        statusTracker=lambda: tracker,
        setJobGroup=lambda group, name: None,
        setLocalProperty=lambda key, value: None,
    )
    return SimpleNamespace(sparkContext=sc), drained


def test_span_drains_the_bus_skips_skipped_stages_and_flags_short_ones():
    spark, drained = _fake_spark(
        {1: ("COMPLETE", 4, 4), 2: ("SKIPPED", 0, 8), 3: ("ACTIVE", 1, 2)}
    )
    tr = Tracer(spark, "t", 4)
    with tr.span("x"):
        pass
    sp = tr.spans[0]
    assert drained and sp.jobs == 1 and sp.stages == 2
    assert sp.counters["tasks"] == 5 and sp.counters["executor_run_s"] == 0.5
    assert tr.incomplete == ["x: stage 3 ACTIVE, 1/2 tasks"]


def test_parquet_parts_cover_the_table(tmp_path):
    table = pa.table({"x": list(range(10))})
    workloads._write_parts(table, str(tmp_path / "t"), 4)
    import pyarrow.parquet as pq

    assert pq.read_table(str(tmp_path / "t")).column("x").to_pylist() == list(range(10))


@pytest.mark.parametrize(
    "n, p", [(39, None), (40, 75), (99, 75), (100, 90), (199, 90), (200, 95), (1000, 95)]
)
def test_tail_is_reported_only_with_ten_samples_beyond_it(n, p):
    assert run.tail_percentile(n) == p
