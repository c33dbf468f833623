"""One candidate producer for the banded-LSH operators.

``dedup._bucket_pairs`` turns (id, band, bucket) entries into candidate
pairs for the minhash, embedding and LOF paths. The band self-join it
replaced stays here as the oracle: on a corpus with a bucket of more than
512 members and one id that appears twice, every caller must give exactly
the self-join's pairs over the same entries, and never an (x, x) pair.
"""

import random

import pytest
from pyspark.sql import functions as F

from truthound_spark.pipeline import dedup
from truthound_spark.pipeline.dedup import (
    DEFAULT_MAX_BUCKET_SIZE,
    _band_entries,
    embedding_near_duplicates,
    minhash_dedup_pairs,
    minhash_lsh_candidates,
    minhash_signatures,
    release_dedup_caches,
)
from truthound_spark.pipeline.neighbors import lof_embeddings
from truthound_spark.pipeline.similarity import sign_lsh_band_entries

MONSTER = DEFAULT_MAX_BUCKET_SIZE + 8
DUP_ID = 5


def _self_join(entries):
    """The band self-join: (id_a, id_b) rows of every a.id < b.id pair
    sharing a bucket, repeated once per shared bucket."""
    a, b = entries.alias("a"), entries.alias("b")
    return a.join(
        b,
        (F.col("a.band") == F.col("b.band"))
        & (F.col("a.bucket") == F.col("b.bucket"))
        & (F.col("a.id") < F.col("b.id")),
    ).select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))


def _self_join_pairs(entries) -> set[tuple]:
    return {tuple(r) for r in _self_join(entries).collect()}


def _max_bucket(entries) -> int:
    return entries.groupBy("band", "bucket").count().agg(F.max("count")).first()[0]


def _no_self_pairs(pairs: set[tuple]) -> bool:
    return all(a != b for a, b in pairs)


@pytest.fixture(scope="module")
def docs(spark):
    rng = random.Random(7)
    vocab = [f"w{i}" for i in range(300)]
    banner = "the very same boilerplate banner text in every document"
    rows = [(i, banner) for i in range(MONSTER)]
    rows.append((DUP_ID, banner))  # the same id twice
    rows += [
        (10_000 + i, " ".join(rng.choice(vocab) for _ in range(40)))
        for i in range(30)
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


@pytest.fixture(scope="module")
def vectors(spark):
    rng = random.Random(3)
    rows = [
        (i, [1.0 + rng.gauss(0, 0.01) for _ in range(8)]) for i in range(MONSTER)
    ]
    rows.append((DUP_ID, [1.0 + rng.gauss(0, 0.01) for _ in range(8)]))
    rows += [
        (10_000 + i, [rng.gauss(0, 1) for _ in range(8)]) for i in range(30)
    ]
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


def _vec_entries(vectors, num_planes, num_bands, seed):
    v = vectors.select(
        F.col("vec_id").cast("long").alias("id"),
        F.col("embedding").cast("array<double>").alias("v"),
    )
    return sign_lsh_band_entries(v, 8, num_planes, num_bands, seed)


def test_exact_minhash_candidates_equal_the_self_join(docs):
    entries = _band_entries(minhash_signatures(docs), 64, 32)
    assert _max_bucket(entries) > DEFAULT_MAX_BUCKET_SIZE
    want = _self_join_pairs(entries)
    cands = minhash_lsh_candidates(docs, max_bucket_size=None)
    # pairs expand with generators, never as one flattened array per bucket
    plan = cands._jdf.queryExecution().executedPlan().toString()
    assert "posexplode" in plan and "flatten(" not in plan
    got = {tuple(r) for r in cands.collect()}
    assert got == want and _no_self_pairs(got)
    assert len(got) >= MONSTER * (MONSTER - 1) // 2


def test_capped_minhash_candidates_have_no_self_pair(docs):
    # the monster bucket degrades to a star; the duplicated id is one member
    got = {tuple(r) for r in minhash_lsh_candidates(docs).collect()}
    assert _no_self_pairs(got)
    assert {(0, i) for i in range(1, MONSTER)} <= got


def test_banded_embedding_candidates_equal_the_self_join(vectors):
    entries = _vec_entries(vectors, 4, 2, 42)
    assert _max_bucket(entries) > DEFAULT_MAX_BUCKET_SIZE
    want = _self_join_pairs(entries)
    # cosine is never below -1: every candidate pair survives the verify
    got = {
        (r["id_a"], r["id_b"])
        for r in embedding_near_duplicates(
            vectors, threshold=-2.0, num_planes=4, num_bands=2
        ).collect()
    }
    assert got == want and _no_self_pairs(got)


def test_lof_embeddings_candidates_equal_the_self_join(vectors, monkeypatch):
    entries = _vec_entries(vectors, 4, 2, 42)
    assert _max_bucket(entries) > DEFAULT_MAX_BUCKET_SIZE
    seen = []
    real = dedup._bucket_pairs

    def spy(entries, max_bucket_size):
        pairs, n = real(entries, max_bucket_size)
        seen.append({tuple(r) for r in pairs.collect()})
        return pairs, n

    monkeypatch.setattr(dedup, "_bucket_pairs", spy)
    got = sorted(
        map(tuple, lof_embeddings(vectors, k=4, num_planes=4, num_bands=2).collect()),
        key=repr,
    )
    assert seen == [_self_join_pairs(entries)] and _no_self_pairs(seen[0])
    monkeypatch.setattr(
        dedup, "_bucket_pairs", lambda entries, cap: (_self_join(entries), None)
    )
    oracle = sorted(
        map(tuple, lof_embeddings(vectors, k=4, num_planes=4, num_bands=2).collect()),
        key=repr,
    )
    assert got == oracle


def test_exact_mode_verify_runs_the_sized_kernel(spark):
    # the exact candidate stage measures its pair bound, so the exact-mode
    # verify attaches by broadcast and narrows to one Python task. AQE's
    # coalescing is off so that only the kernel's own sizing can narrow it
    rng = random.Random(5)
    vocab = [f"w{i}" for i in range(200)]
    rows = [(i, " ".join(rng.choice(vocab) for _ in range(40))) for i in range(40)]
    rows += [(100 + i, rows[i][1]) for i in range(6)]
    docs = spark.createDataFrame(rows, "doc_id long, text string").repartition(4)
    key = "spark.sql.adaptive.coalescePartitions.enabled"
    spark.conf.set(key, "false")
    release_dedup_caches()
    try:
        exact = minhash_dedup_pairs(docs, threshold=0.7, max_bucket_size=None)
        qe = exact._jdf.queryExecution()
        plan = qe.executedPlan().toString()
        assert "MapInArrow kernel(" in plan
        assert "BroadcastHashJoin" in plan and "ShuffledHashJoin" not in plan
        assert qe.toRdd().getNumPartitions() == 1
        got = {(r["id_a"], r["id_b"]) for r in exact.collect()}
    finally:
        spark.conf.unset(key)
        release_dedup_caches()
    assert got == {(i, 100 + i) for i in range(6)}
