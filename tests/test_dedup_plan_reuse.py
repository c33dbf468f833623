"""A repeated dedup call must stay resident in Spark's codegen cache.

The cache (``spark.sql.codegen.cache.maxEntries``, 100 entries by default,
a Guava cache in 4 LRU segments) is static, so the dedup calls can only fit
by needing few distinct generated classes. A warm ``dedup_clusters`` +
``incremental_dedup_indexed`` round that needs more than a segment holds
recompiles its classes on every call. The gates that measure sizes on the
jobs that materialize a relation (``Dataset.observe``) must report the same
numbers as the separate measurements they replace, and the verify store's
broadcast must be released. The verify kernel runs in as few Python tasks as
its stage's measured inputs (pairs and a-side rows) need: each task pays a
fixed worker start-up cost. No verify shape re-counts a bound the candidate
stage measured, and a stored shingle layout is measured on the candidate
checkpoint job, not by a separate aggregate.
"""

import random

import pytest
from pyspark.sql import Observation
from pyspark.sql import functions as F

from truthound_spark.pipeline import dedup
from truthound_spark.pipeline.dedup import (
    _TRACKED_PERSISTS,
    _hashed_shingle_arrays,
    _lsh_pair_rows,
    _payload_bytes,
    _payload_measures,
    _signatures,
    _verify_pairs,
    connected_components,
    dedup_clusters,
    incremental_dedup,
    incremental_dedup_indexed,
    minhash_dedup_pairs,
    release_dedup_caches,
    write_dedup_index,
    write_shingle_layout,
)

DEDUP_CLUSTERS_JOBS = 13
PROBE_JOBS = 10
INCREMENTAL_JOBS = 21
# minhash_dedup_pairs of the base, collected, in the over-budget verify
# shape (shingle_broadcast_budget=0) and over a stored shingle layout
BUDGET0_PAIRS_JOBS = 11
LAYOUT_PAIRS_JOBS = 8
# Classes a warm round may recompile. Which classes fall out depends on how
# their keys hash into the cache's segments, and that changes with every
# JVM: a round recompiled 132 before the dedup calls cut their plans, and
# 13-43 after. The target is none.
WARM_COMPILES = 80


def _corpus(seed: int, n: int, first_id: int, vocab: list[str]) -> list[tuple[int, str]]:
    rng = random.Random(seed)
    return [
        (first_id + i, " ".join(rng.choice(vocab) for _ in range(60)))
        for i in range(n)
    ]


def _near_copy(text: str, rng: random.Random) -> str:
    words = text.split()
    words[rng.randrange(len(words))] = "edited"
    return " ".join(words)


@pytest.fixture(scope="module")
def corpus(spark, tmp_path_factory):
    rng = random.Random(11)
    vocab = [f"w{i}" for i in range(400)]
    base = _corpus(1, 160, 0, vocab)
    # planted duplicates inside the base: 8 near copies and 4 exact ones
    base += [(1000 + i, _near_copy(base[i][1], rng)) for i in range(8)]
    base += [(2000 + i, base[20 + i][1]) for i in range(4)]
    # a delta with 3 near and 2 exact duplicates of the base, and new docs
    delta = [(5000 + i, _near_copy(base[40 + i][1], rng)) for i in range(3)]
    delta += [(6000 + i, base[60 + i][1]) for i in range(2)]
    delta += _corpus(2, 15, 7000, vocab)
    schema = "doc_id long, text string"
    base_df = spark.createDataFrame(base, schema)
    delta_df = spark.createDataFrame(delta, schema)
    location = str(tmp_path_factory.mktemp("plan_reuse_index"))
    index = write_dedup_index(
        base_df, "plan_reuse", buckets=8,
        database="plan_reuse_db", location=location,
    )
    return base_df, delta_df, index


@pytest.fixture(scope="module")
def layout(spark, corpus, tmp_path_factory):
    location = str(tmp_path_factory.mktemp("plan_reuse_layout"))
    return write_shingle_layout(
        corpus[0], "plan_reuse_sh", buckets=8,
        database="plan_reuse_db", location=location,
    )


def _compiles(spark) -> int:
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def _jobs_of(spark, gid: str, call) -> tuple[list, int]:
    """The rows of ``call()`` and the Spark jobs it ran, counted in a job
    group; the dedup caches are released after it."""
    sc = spark.sparkContext
    sc.setJobGroup(gid, gid)
    try:
        rows = call()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    release_dedup_caches()
    return rows, len(sc.statusTracker().getJobIdsForGroup(gid))


def _round(spark, corpus, group: str) -> dict:
    base_df, delta_df, index = corpus
    out = {}
    calls = {
        "dedup_clusters": lambda: dedup_clusters(base_df, threshold=0.7)
        .filter("NOT is_canonical")
        .select("doc_id")
        .collect(),
        "probe": lambda: incremental_dedup_indexed(delta_df, index, threshold=0.7)
        .filter("dup_of IS NOT NULL")
        .select("id")
        .collect(),
    }
    for name, call in calls.items():
        rows, out[f"{name}_jobs"] = _jobs_of(spark, f"{group}-{name}", call)
        out[name] = {r[0] for r in rows}
    return out


def test_warm_round_stays_in_codegen_cache(spark, corpus):
    first = _round(spark, corpus, "plan-reuse-1")
    assert first["dedup_clusters"] == set(range(1000, 1008)) | set(range(2000, 2004))
    assert first["probe"] == {5000, 5001, 5002, 6000, 6001}
    c0 = _compiles(spark)
    second = _round(spark, corpus, "plan-reuse-2")
    warm = _compiles(spark) - c0
    assert second["dedup_clusters"] == first["dedup_clusters"]
    assert second["probe"] == first["probe"]
    assert second["dedup_clusters_jobs"] <= DEDUP_CLUSTERS_JOBS, second
    assert second["probe_jobs"] <= PROBE_JOBS, second
    assert warm <= WARM_COMPILES, f"{warm} classes recompiled by a warm round"


def test_incremental_dedup_jobs_per_call(spark, corpus):
    # the union-based increment verifies through the shared kernel: its
    # store's size is observed on the union's checkpoint and its pairs are
    # bounded by the candidate count, so no job re-counts either
    base_df, delta_df, _ = corpus

    def call():
        return (
            incremental_dedup(delta_df, base_df, threshold=0.7)
            .filter("dup_of IS NOT NULL")
            .select("id")
            .collect()
        )

    for attempt in ("cold", "warm"):
        rows, jobs = _jobs_of(spark, f"incremental-{attempt}", call)
        assert {r[0] for r in rows} == {5000, 5001, 5002, 6000, 6001}
        assert jobs <= INCREMENTAL_JOBS, (attempt, jobs)


def test_release_destroys_verify_broadcast_and_next_call_is_exact(spark, corpus):
    base_df = corpus[0]
    release_dedup_caches()
    exact = {
        (r["id_a"], r["id_b"])
        for r in minhash_dedup_pairs(
            base_df, threshold=0.7, shingle_broadcast_budget=0
        ).collect()
    }
    release_dedup_caches()
    arrow = minhash_dedup_pairs(base_df, threshold=0.7)
    assert {(r["id_a"], r["id_b"]) for r in arrow.collect()} == exact
    stores = [b for b in _TRACKED_PERSISTS if hasattr(b, "destroy")]
    assert len(stores) == 1
    assert stores[0]._jbroadcast.isValid()
    assert release_dedup_caches() >= 1
    assert not stores[0]._jbroadcast.isValid()
    # a new call broadcasts its own store and still verifies exactly
    again = minhash_dedup_pairs(base_df, threshold=0.7)
    assert {(r["id_a"], r["id_b"]) for r in again.collect()} == exact
    release_dedup_caches()


def test_observed_payload_size_equals_measured(spark, corpus, layout):
    base_df = corpus[0]
    size = Observation()
    sh = (
        _hashed_shingle_arrays(base_df, "text", "doc_id", 3)
        .observe(size, *_payload_measures("sh"))
        .localCheckpoint(eager=True)
    )
    observed = _payload_bytes(size.get, 8)
    measured = sh.agg(*_payload_measures("sh")).collect()[0].asDict()
    assert observed == _payload_bytes(measured, 8)
    assert observed > 48 * base_df.count()
    # a stored layout is observed on the signature input: the candidate
    # checkpoint job measures it, with no exchange added to the plan
    stored = spark.table(layout).select("id", "sh")
    stored_size = Observation()
    _lsh_pair_rows(stored.observe(stored_size, *_payload_measures("sh")), 64, 32, 512)
    assert stored_size.get == stored.agg(*_payload_measures("sh")).collect()[0].asDict()
    assert _payload_bytes(stored_size.get, 8) == observed

    def exchanges(df) -> int:
        return df._jdf.queryExecution().executedPlan().toString().count("Exchange")

    observed_input = stored.observe(Observation(), *_payload_measures("sh"))
    assert exchanges(_signatures(observed_input, 64)) == exchanges(
        _signatures(stored, 64)
    )
    release_dedup_caches()


def test_pairs_jobs_per_call_over_budget_and_stored(spark, corpus, layout):
    # the over-budget verify attaches the distinct pairs under the bound
    # the candidate stage measured (no persist, no count), and a stored
    # layout is measured on the candidate checkpoint job; both return the
    # kernel shape's pairs
    base_df = corpus[0]

    def pairs(**kw):
        return lambda: sorted(
            tuple(r)
            for r in minhash_dedup_pairs(base_df, threshold=0.7, **kw).collect()
        )

    kernel, _ = _jobs_of(spark, "pairs-kernel", pairs(shingle_table=None))
    assert len(kernel) == 12
    for attempt in ("cold", "warm"):
        over, jobs = _jobs_of(
            spark, f"pairs-budget0-{attempt}",
            pairs(shingle_table=None, shingle_broadcast_budget=0),
        )
        assert over == kernel
        assert jobs <= BUDGET0_PAIRS_JOBS, (attempt, jobs)
        stored, jobs = _jobs_of(
            spark, f"pairs-layout-{attempt}", pairs(shingle_table=layout)
        )
        assert stored == kernel
        assert jobs <= LAYOUT_PAIRS_JOBS, (attempt, jobs)


def test_cc_branch_flips_exactly_at_edge_count(spark):
    # repeated and reversed pairs over 5 distinct undirected edges, so 10
    # distinct directed edges
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (2, 1), (3, 2), (4, 5), (5, 6), (7, 8), (1, 2)],
        "id_a long, id_b long",
    )
    n_edges = 10

    def run(threshold):
        comp = connected_components(pairs, driver_threshold=threshold)
        plan = comp._jdf.queryExecution().executedPlan().toString()
        labels = {(r["id"], r["cluster_id"]) for r in comp.collect()}
        return "LocalTableScan" in plan, labels

    on_driver, labels = run(n_edges)
    distributed, dist_labels = run(n_edges - 1)
    assert on_driver and not distributed
    assert labels == dist_labels == {
        (1, 1), (2, 1), (3, 1), (4, 4), (5, 4), (6, 4), (7, 7), (8, 7)
    }


def _kernel_partitions(df) -> int:
    """Partitions of the frame fed to the verify kernel: every operator
    above ``MapInArrow kernel(`` is narrow, so the output has as many."""
    qe = df._jdf.queryExecution()
    n = qe.toRdd().getNumPartitions()
    assert "MapInArrow kernel(" in qe.executedPlan().toString()
    return n


def test_verify_kernel_runs_one_python_task_under_the_pair_bound(spark, corpus):
    base_df = corpus[0]
    assert base_df.rdd.getNumPartitions() > 1
    release_dedup_caches()
    arrow = minhash_dedup_pairs(base_df, threshold=0.7)
    assert _kernel_partitions(arrow) == 1
    exact = minhash_dedup_pairs(base_df, threshold=0.7, shingle_broadcast_budget=0)
    assert set(map(tuple, arrow.collect())) == set(map(tuple, exact.collect()))
    release_dedup_caches()


def test_verify_kernel_keeps_partitions_at_or_over_the_bound(spark):
    per_task = dedup.VERIFY_PAIRS_PER_TASK
    store = spark.range(0, 64, 1, 4).select(
        "id", F.array("id", F.col("id") + 1).alias("sh")
    )
    pairs = spark.range(63).select(
        F.col("id").alias("id_a"), (F.col("id") + 1).alias("id_b")
    )
    expected = {(i, i + 1, 1 / 3) for i in range(63)}
    for n_pairs, a_rows, parts in (
        (8 * per_task, 64, 4), (4 * per_task, 64, 4), (2 * per_task, 64, 2),
        (per_task - 1, 64, 1), (0, 64, 1),
        # the stage scans the whole a-side: a large one with few pairs
        # keeps its partitions
        (63, 8 * per_task, 4), (63, 2 * per_task + 1, 3),
        # with the a-side unmeasured the width is left as it is
        (63, None, 4),
    ):
        scored = _verify_pairs(
            store, pairs, 1,
            dedup.DEFAULT_PAIR_BROADCAST_BUDGET,
            dedup.DEFAULT_SHINGLE_BROADCAST_BUDGET,
            n_pairs=n_pairs, a_rows=a_rows,
        )
        assert _kernel_partitions(scored) == parts, (n_pairs, a_rows)
        assert set(map(tuple, scored.collect())) == expected
        release_dedup_caches()


def _spy_kernel(monkeypatch) -> list:
    """Record each verify kernel frame and the bounds it was sized from."""
    seen = []
    real = dedup._verify_pairs_arrow

    def spy(store, pairs, a_side, n_pairs, budget, a_rows):
        out = real(store, pairs, a_side, n_pairs, budget, a_rows)
        seen.append((out, n_pairs, a_rows))
        return out

    monkeypatch.setattr(dedup, "_verify_pairs_arrow", spy)
    return seen


def test_large_store_with_few_pairs_keeps_its_partitions(spark, corpus, monkeypatch):
    base_df, delta_df, index = corpus
    seen = _spy_kernel(monkeypatch)

    def widths() -> list[int]:
        seen.clear()
        minhash_dedup_pairs(base_df, threshold=0.7)
        incremental_dedup_indexed(delta_df, index, threshold=0.7)
        out = [_kernel_partitions(df) for df, _, _ in seen]
        release_dedup_caches()
        return out

    assert widths() == [1, 1]
    (_, pairs, docs), (_, probe_pairs, base_docs) = seen
    assert docs == base_docs == base_df.count()
    # at a task width where the pair bounds alone would narrow each stage
    # but the docs it scans fill every input partition (the store's, the
    # index's 8 buckets), each stage keeps one task per input partition
    parts = base_df.rdd.getNumPartitions()
    per_task = -(-docs // max(parts, 8))
    assert -(-pairs // per_task) < parts and -(-probe_pairs // per_task) < 8
    monkeypatch.setattr(dedup, "VERIFY_PAIRS_PER_TASK", per_task)
    assert widths() == [parts, 8]


def test_probe_of_an_index_without_a_doc_count_keeps_its_buckets(
    spark, corpus, monkeypatch
):
    import json

    _, delta_df, index = corpus
    prop = f"SHOW TBLPROPERTIES {index['lsh']} ('truthound.dedup.meta')"
    meta = spark.sql(prop).collect()[0]["value"]
    older = {k: v for k, v in json.loads(meta).items() if k != "docs"}

    def set_meta(value):
        spark.sql(
            f"ALTER TABLE {index['lsh']} SET TBLPROPERTIES "
            f"('truthound.dedup.meta' = '{value}')"
        )

    seen = _spy_kernel(monkeypatch)
    set_meta(json.dumps(older))
    try:
        got = incremental_dedup_indexed(delta_df, index, threshold=0.7)
        ids = {r["id"] for r in got.filter("dup_of IS NOT NULL").collect()}
        assert seen[0][2] is None
        assert _kernel_partitions(seen[0][0]) == 8
    finally:
        set_meta(meta)
        release_dedup_caches()
    assert ids == {5000, 5001, 5002, 6000, 6001}
