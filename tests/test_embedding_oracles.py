"""The embedding-family entries against their DuckDB oracles at sf0.01.

The IVF, PQ, IVF-PQ, SemDeDup, kmeans_vec, ANN, bitext, hard-negative,
LSH-LOF, pooling and embedding-health entries share the coarse-quantizer
and dot-product helpers of ``pipeline/similarity.py``; a change to one
helper moves several entries at once. Each entry runs through the same
comparison as ``scripts/verify_entry.py`` (row count, column names,
canonical values).
"""

from __future__ import annotations

import importlib.util
from pathlib import Path

import pytest

from truthound_spark.entry_queries import ORACLES, QUERIES

_PREFIXES = (
    "ivf_",
    "pq_",
    "ivfpq_",
    "semantic_",
    "ann_",
    "bitext_",
    "hard_negatives_",
    "embedding_",
)
_NAMES = ("kmeans_vec_embeddings", "lof_embeddings_lsh", "pool_embeddings_by_label")
EMBEDDING_ENTRIES = sorted(n for n in QUERIES if n.startswith(_PREFIXES) or n in _NAMES)


def _verify_entry():
    path = Path(__file__).resolve().parent.parent / "scripts" / "verify_entry.py"
    spec = importlib.util.spec_from_file_location("verify_entry", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


VERIFY = _verify_entry()


@pytest.fixture(scope="module")
def con():
    c = VERIFY.oracle_db()
    yield c
    c.close()


def test_embedding_family_is_found():
    assert len(EMBEDDING_ENTRIES) >= 21
    assert set(_NAMES) <= set(EMBEDDING_ENTRIES)


@pytest.mark.parametrize("name", EMBEDDING_ENTRIES)
def test_embedding_entry_matches_oracle(spark, con, name):
    status, detail = VERIFY.check_entry(spark, con, QUERIES[name], ORACLES.get(name))
    assert status == "PASS", detail
