"""Seeded input generators with a ground-truth manifest.

Everything here is pure Python/NumPy/Arrow: the program under test only ever
sees the parquet files these functions write. The same seed and sizes give
the same manifest and byte-identical files.

* ``orders_tables`` — an orders-like table (10 columns: integer, float,
  string, e-mail and timestamp) plus a "current" copy with planted faults of
  known count: nulls, out-of-range amounts, duplicate keys and one shifted
  numeric column (``discount``).
* ``orders_batches`` — many small orders batches, each with its own planted
  null / range / duplicate counts (the micro-batch workload).
* ``corpus`` — a Zipf-vocabulary document corpus with planted
  near-duplicates (duplicates of duplicates included, so clusters are
  multi-hop), plus small deltas holding fresh documents and planted
  duplicates of base documents.
"""

from __future__ import annotations

import hashlib
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# drift columns: every numeric column of the orders table
NUMERIC_COLUMNS = ("order_id", "customer_id", "amount", "quantity", "discount", "score")
SHIFTED_COLUMN = "discount"
EMAIL_COLUMN = "email"
STATUSES = ("new", "paid", "shipped", "returned", "cancelled")
REGIONS = ("north", "south", "east", "west", "central", "coast", "hills", "plains")
_EPOCH_2024 = 1_704_067_200  # 2024-01-01T00:00:00Z

# corpus: one word substitution per planted hop and at most two hops keep
# every planted pair (and every delta duplicate against its parent) at
# Jaccard >= ~0.8 over word 3-gram sets of >= 60-word documents, clear of
# the 0.7 dedup threshold; unrelated documents share almost no 3-grams
DEDUP_THRESHOLD = 0.7
MIN_WORDS, MAX_WORDS = 60, 120
SHINGLE_N = 3


def write_parquet(table: pa.Table, path: str) -> None:
    """Write one snappy parquet file. pyarrow embeds no timestamp, so the
    bytes depend only on the table."""
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path, compression="snappy")


def file_digest(path: str) -> str:
    h = hashlib.sha256()
    with open(path, "rb") as f:
        h.update(f.read())
    return h.hexdigest()


# ---------------------------------------------------------------------------
# orders


def _orders_columns(rng: np.random.Generator, n: int, first_id: int) -> dict:
    """Clean orders columns; only ``order_id`` is unique."""
    discount = np.clip(rng.normal(0.10, 0.02, n), 0.02, 0.18).round(4)
    email_pool = max(n // 5, 1)
    return {
        "order_id": np.arange(first_id, first_id + n, dtype=np.int64),
        "customer_id": rng.integers(1, max(n // 10, 2), n, dtype=np.int64),
        "amount": rng.uniform(5.0, 500.0, n).round(2),
        "quantity": rng.integers(1, 20, n, dtype=np.int64).astype(np.float64),
        "discount": discount,
        "score": rng.uniform(0.0, 1.0, n).round(3),
        "status": rng.choice(np.array(STATUSES), n, p=[0.2, 0.4, 0.3, 0.05, 0.05]),
        "region": rng.choice(np.array(REGIONS), n),
        "email": np.char.add(
            np.char.add("user", rng.integers(0, email_pool, n).astype(str)), "@example.com"
        ),
        "created_at": _EPOCH_2024 + rng.integers(0, 90 * 86400, n, dtype=np.int64),
    }


def _plant_faults(
    rng: np.random.Generator, cols: dict, nulls: int, out_of_range: int, dup_keys: int
) -> dict:
    """Plant exactly ``nulls`` nulls in ``quantity`` and in ``region``,
    ``out_of_range`` far-out amounts and ``dup_keys`` duplicated order ids
    (each a copy of a distinct untouched row's key, so the duplicate-extras
    count is exactly ``dup_keys``). Fault rows are disjoint."""
    n = len(cols["order_id"])
    sizes = [nulls, nulls, out_of_range, dup_keys, dup_keys]
    rows = rng.permutation(n)[: sum(sizes)]
    null_q, null_r, oor, dup_src, dup_dst = np.split(rows, np.cumsum(sizes)[:-1])
    cols["order_id"][dup_dst] = cols["order_id"][dup_src]
    cols["amount"][oor] = 100_000.0 + np.arange(out_of_range)
    quantity_valid = np.ones(n, dtype=bool)
    quantity_valid[null_q] = False
    region_valid = np.ones(n, dtype=bool)
    region_valid[null_r] = False
    return {"quantity": quantity_valid, "region": region_valid}


def _orders_table(cols: dict, valid: dict | None = None) -> pa.Table:
    valid = valid or {}
    arrays = {}
    for name, values in cols.items():
        mask = None if name not in valid else ~valid[name]
        if name == "created_at":
            arrays[name] = pa.array(values * 1_000_000, type=pa.timestamp("us", tz="UTC"))
        elif name == "quantity":
            arrays[name] = pa.array(values.astype(np.int64), mask=mask, type=pa.int64())
        else:
            arrays[name] = pa.array(values, mask=mask)
    return pa.table(arrays)


def orders_tables(seed: int, rows: int) -> tuple[pa.Table, pa.Table, dict]:
    """(base, current, manifest). ``current`` is ``base`` with planted
    faults and ``discount`` shifted by +0.03 (1.5 sigma): drift tests see a
    change in that column and, apart from a few planted rows, identical
    values in every other."""
    rng = np.random.default_rng([seed, 1])
    cols = _orders_columns(rng, rows, 1)
    base = _orders_table(cols)
    faults = max(rows // 1000, 5)
    cur_cols = {k: v.copy() for k, v in cols.items()}
    valid = _plant_faults(rng, cur_cols, faults, faults, faults)
    cur_cols[SHIFTED_COLUMN] = (cur_cols[SHIFTED_COLUMN] + 0.03).round(4)
    cur = _orders_table(cur_cols, valid)
    manifest = {
        "rows": rows,
        "null": {"quantity": faults, "region": faults},
        "range": {"amount": faults},
        "unique": {"order_id": faults},
        "shifted": SHIFTED_COLUMN,
        "pii": {EMAIL_COLUMN: "email"},
    }
    return base, cur, manifest


def orders_batches(seed: int, batches: int, rows: int) -> tuple[list[pa.Table], list[dict]]:
    """``batches`` small orders batches with per-batch planted faults; the
    counts vary by batch so a result checked against the wrong batch
    fails."""
    rng = np.random.default_rng([seed, 2])
    tables, manifests = [], []
    for b in range(batches):
        cols = _orders_columns(rng, rows, 1 + b * rows)
        nulls, oor, dups = (int(x) for x in rng.integers(1, 12, 3))
        valid = _plant_faults(rng, cols, nulls, oor, dups)
        tables.append(_orders_table(cols, valid))
        manifests.append(
            {
                "null": {"quantity": nulls, "region": nulls},
                "range": {"amount": oor},
                "unique": {"order_id": dups},
            }
        )
    return tables, manifests


# ---------------------------------------------------------------------------
# corpus


def _vocabulary(rng: np.random.Generator, size: int) -> np.ndarray:
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    out: list[str] = []
    seen: set[str] = set()
    while len(out) < size:
        w = "".join(rng.choice(letters, int(rng.integers(4, 10))))
        if w not in seen:
            seen.add(w)
            out.append(w)
    return np.array(out)


def shingles(text: str, n: int = SHINGLE_N) -> set[str]:
    """Distinct word n-grams, as the product's dedup stages build them for
    lowercase single-space text."""
    w = text.split(" ")
    return {" ".join(w[i : i + n]) for i in range(max(len(w) - n, 0) + 1)}


def jaccard(a: str, b: str) -> float:
    sa, sb = shingles(a), shingles(b)
    return len(sa & sb) / len(sa | sb)


class _Writer:
    """Draws Zipf-vocabulary documents and one-word edits of them."""

    def __init__(self, rng: np.random.Generator, vocab_size: int = 5000) -> None:
        self.rng = rng
        self.vocab = _vocabulary(rng, vocab_size)
        p = 1.0 / np.arange(1, vocab_size + 1) ** 1.1
        self.p = p / p.sum()

    def document(self) -> list[str]:
        n = int(self.rng.integers(MIN_WORDS, MAX_WORDS + 1))
        return list(self.rng.choice(self.vocab, n, p=self.p))

    def edit(self, words: list[str]) -> list[str]:
        """One substitution with a word from the vocabulary's rare half."""
        out = list(words)
        pos = int(self.rng.integers(0, len(out)))
        half = len(self.vocab) // 2
        out[pos] = str(self.vocab[half + int(self.rng.integers(0, half))])
        return out


def corpus(seed: int, docs: int, deltas: int, delta_docs: int) -> tuple[pa.Table, list[pa.Table], dict]:
    """(base, deltas, manifest).

    The base holds ``docs`` documents: 85% originals (ids first) and 15%
    planted near-duplicates, each a one-word edit of an earlier document
    that is itself an original or a first-hop duplicate. Every delta holds
    ``delta_docs`` documents with ids above the base: half fresh originals,
    half one-word edits of base documents. The full corpus is base plus all
    deltas; its non-canonical ids (not the minimum id of their cluster) are
    exactly the planted duplicates, base and delta alike."""
    rng = np.random.default_rng([seed, 3])
    wr = _Writer(rng)
    n_dups = int(docs * 0.15)
    n_orig = docs - n_dups
    texts: list[list[str]] = [wr.document() for _ in range(n_orig)]
    depth = [0] * n_orig
    parent: dict[int, int] = {}
    for i in range(n_orig, docs):
        while True:
            p = int(rng.integers(0, i))
            if depth[p] < 2:
                break
        parent[i] = p
        texts.append(wr.edit(texts[p]))
        depth.append(depth[p] + 1)
    base = pa.table(
        {"doc_id": pa.array(np.arange(docs), pa.int64()),
         "text": pa.array([" ".join(t) for t in texts])}
    )
    delta_tables, delta_dups = [], []
    next_id = docs
    for _ in range(deltas):
        ids, dtexts, dups = [], [], []
        for j in range(delta_docs):
            if j % 2:
                p = int(rng.integers(0, docs))
                dtexts.append(" ".join(wr.edit(texts[p])))
                parent[next_id] = p
                dups.append(next_id)
            else:
                dtexts.append(" ".join(wr.document()))
            ids.append(next_id)
            next_id += 1
        delta_tables.append(
            pa.table({"doc_id": pa.array(ids, pa.int64()), "text": pa.array(dtexts)})
        )
        delta_dups.append(dups)
    manifest = {
        "docs": docs,
        "duplicates": sorted(parent),
        "parent": parent,
        "delta_duplicates": delta_dups,
    }
    return base, delta_tables, manifest


def planted_jaccards(base: pa.Table, deltas: list[pa.Table], manifest: dict) -> list[float]:
    """Exact Jaccard of every planted (duplicate, parent) pair."""
    text = dict(zip(base["doc_id"].to_pylist(), base["text"].to_pylist()))
    for d in deltas:
        text.update(zip(d["doc_id"].to_pylist(), d["text"].to_pylist()))
    return [jaccard(text[c], text[p]) for c, p in manifest["parent"].items()]
