"""The hashed shingle store is the one input of the MinHash signature stage.

Every MinHash caller hashes each document's word shingles once, into an
``(id, sh: array<long>)`` store, and computes signatures and LSH candidates
from it. The string form it replaced stays here as the oracle: exploded
non-empty ``word_shingles``, each hashed with ``xxhash64`` and reduced
through the seeded affine family. Candidates computed from a stored layout
of the store must equal those of the public call.
"""

import pytest
from pyspark.sql import functions as F

from truthound_spark.pipeline.dedup import (
    _MERSENNE_31,
    _lsh_pair_rows,
    _minhash_coefficients,
    minhash_lsh_candidates,
    minhash_signatures,
    release_dedup_caches,
    word_shingles,
    write_shingle_layout,
)


@pytest.fixture(scope="module")
def docs(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def _string_signatures(docs, num_hashes: int):
    p = F.lit(_MERSENNE_31)
    x = (
        docs.select(
            F.col("doc_id").alias("id"),
            F.explode(word_shingles(F.col("text"), 3)).alias("g"),
        )
        .filter(F.col("g") != "")
        .select("id", F.pmod(F.xxhash64("g"), p).alias("x"))
    )
    return x.groupBy("id").agg(
        *[
            F.min(F.pmod(F.lit(a) * F.col("x") + F.lit(b), p)).alias(f"h{i}")
            for i, (a, b) in enumerate(_minhash_coefficients(num_hashes))
        ]
    )


def test_signatures_equal_the_string_shingle_reference(docs):
    got = minhash_signatures(docs)
    ref = _string_signatures(docs, 64)
    assert got.columns == ref.columns == ["id"] + [f"h{i}" for i in range(64)]
    assert got.count() == ref.count() > 0
    assert got.exceptAll(ref).count() == 0
    assert ref.exceptAll(got).count() == 0


def test_candidates_equal_pair_rows_of_a_stored_store(spark, docs, tmp_path):
    layout = write_shingle_layout(
        docs, "minhash_store", buckets=4,
        database="minhash_store_db", location=str(tmp_path),
    )
    stored = spark.table(layout).select("id", "sh")
    try:
        for cap in (None, 2):
            got = {tuple(r) for r in minhash_lsh_candidates(docs, max_bucket_size=cap).collect()}
            rows, bound = _lsh_pair_rows(stored, 64, 32, cap)
            ref = [tuple(r) for r in rows.collect()]
            assert got == set(ref), cap
            assert all(a < b for a, b in got)
            assert len(ref) == bound
    finally:
        release_dedup_caches()
        spark.sql("DROP DATABASE IF EXISTS minhash_store_db CASCADE")
