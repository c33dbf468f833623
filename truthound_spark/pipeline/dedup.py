"""Deduplication operators for large-scale training-data pipelines.

Beyond the reference's validator surface (BASELINE.json north star): exact,
MinHash+LSH, SimHash, and n-gram-Jaccard dedup over a documents table.

Scale design:
  * exact          — groupBy on a content hash (one shuffle on the hash key,
                     map-side combine; never a full-row comparison)
  * minhash_lsh    — shingle→minhash→band→bucket grouping: candidate pairs
                     are generated ONLY within LSH buckets (band-key shuffle),
                     turning the O(n²) pair space into near-linear work;
                     signatures are computed with JVM-side xxhash64 over
                     shingle arrays (no Python in the row path)
  * simhash        — 64-bit signature via Arrow-vectorized pandas UDF;
                     near-dups = signatures at Hamming distance ≤ k found by
                     4-segment blocking (pigeonhole), again bucket-joined
  * ngram_jaccard  — exact Jaccard verification over token n-grams; pair
                     candidates come from a shared-ngram join (inverted
                     index), with a document-frequency cap to avoid hub
                     n-grams exploding the join
"""

from __future__ import annotations

import logging

import pandas as pd

from pyspark.sql import Column, DataFrame, Observation
from pyspark.sql import functions as F

logger = logging.getLogger(__name__)

#: Production default for the LSH bucket-size skew guard (VERDICT r10
#: #3). A real web corpus is boilerplate-heavy: one bucket of m
#: near-identical documents (cookie banners, templated pages) emits
#: m²/2 candidate pairs per band — quadratic blowup on exactly the data
#: that needs dedup most. 512 keeps any single bucket's pair cost under
#: ~131k while star-degrading only buckets that are duplicate families
#: anyway (connectivity via the bucket-min hub is preserved for members
#: that verify against it). Pass ``max_bucket_size=None`` for the exact
#: all-pairs semantics — the mode the DuckDB oracle slots pin. Both modes
#: expand pairs in :func:`_bucket_pairs` and measure their bound there;
#: ``None`` only expands every bucket in full.
DEFAULT_MAX_BUCKET_SIZE = 512

#: Byte budget under which a candidate-PAIR relation may be broadcast
#: into the verify-stage attach joins. Bare id pairs are small per row,
#: but the RELATION grows with the corpus (35M pairs at sf10 was already
#: ~560 MB serialized — 50x past any sane auto-broadcast threshold, and
#: past ~10-100x more documents it crosses Spark's 8 GB broadcast /
#: driver-memory ceiling and the job dies; VERDICT r11 #1). Under the
#: budget a broadcast keeps the shingle lookups map-side; over it the
#: attach joins degrade to shuffle-hash joins on the id key — the same
#: pin the pair-key join already uses — which scales to any pair count.
#: 0 disables broadcasting entirely.
DEFAULT_PAIR_BROADCAST_BUDGET = 64 << 20

#: Byte budget under which the b-side SHINGLE TABLE may be broadcast
#: into the verify stage's pair-key join (r15, guide §8/§3.1). The
#: enriched a-side of the verify join carries one document-sized shingle
#: array PER CANDIDATE PAIR — at the decade corpus that is 35 M pairs ×
#: ~1.6 KB ≈ 56 GB through the pair-key exchange, and the r14 stage
#: split measured the verify at 32.2 s, almost all of it that shuffle,
#: not the array_intersect compute. Broadcasting the b-side table (one
#: array per DOCUMENT, ~0.9 GB at the same corpus) turns the pair-key
#: join into a BroadcastHashJoin: the heavy per-pair relation never
#: moves, and the intersect runs in the same stage that attached sh_a.
#: The gate is MEASURED — row count + total elements of the broadcast
#: table, observed on the job that checkpoints it (inline shingles, the
#: indexed probe's delta) or, for a stored bucketed table, on the
#: candidate checkpoint job that reads it as the signature input — so a
#: corpus whose shingle relation outgrows the budget falls
#: back to the shuffle-hash shape automatically: at 100 TB the b-side is
#: TB-scale and this broadcast never engages. 0 disables the broadcast
#: path entirely.
DEFAULT_SHINGLE_BROADCAST_BUDGET = 2 << 30

#: Candidate pairs per Python task of the verify kernel
#: (:func:`_verify_pairs_arrow`). Each task pays a fixed ~0.24 s of worker
#: CPU before it reads a row — PySpark's per-task
#: ``importlib.invalidate_caches()`` makes every cached zipimporter
#: re-read the central directory of ``pyspark.zip`` — while the kernel
#: costs 7-62 µs per pair (groups of 16 down to 1 member, 58-200-element
#: shingle arrays, one core of a 4-core x86 VM). At 2^16 pairs a task does
#: at least 0.45 s of kernel work, about twice its fixed cost.
#:
#: ``coalesce`` is narrow: it sets the task count of the WHOLE stage that
#: feeds the kernel, and that stage also scans every a-side document
#: (sorting its array and attaching its pair group), not only the pairs.
#: So the stage is sized from both measured inputs:
#: ``ceil(max(pairs, a-side rows) / VERIFY_PAIRS_PER_TASK)`` tasks, and it
#: is left as it is when either was not measured. A stage of 4 partitions
#: narrows only while both stay below ~262k; a large store or base with few
#: pairs keeps its parallelism. An a-side row costs that stage less than a
#: pair costs the kernel: a 2^17-doc store of 64-element arrays with 8
#: pairs verified in 0.68-0.81 s in one task and 0.86-1.08 s in four
#: (warm, ``local[4]``, the store's collect and broadcast included).
VERIFY_PAIRS_PER_TASK = 1 << 16

#: Cap on the number of input files whose (length, mtime) statuses a
#: layout-probe source fingerprint will fetch (VERDICT r14 #4: one
#: listStatus per distinct parent dir is unbounded for a multi-partition
#: corpus on an object store). Past the cap the fingerprint degrades to
#: the path-only digest — deterministic (same file set ⇒ same branch at
#: both write and probe time), so a bounded probe can never mismatch a
#: status-tagged layout, it just stops detecting same-name in-place
#: rewrites for corpora above the cap.
FP_STATUS_MAX_FILES = 4096

#: Version of the normalize→split→shingle→hash pipeline that produces
#: stored shingle tables (``normalized_text`` / ``words`` /
#: ``_hashed_shingle_arrays``). Recorded in every layout's table
#: properties and checked at read time: shingles produced by a DIFFERENT
#: tokenizer never intersect, so a silent mismatch would report
#: near-zero Jaccard everywhere instead of failing. Bump on ANY change
#: to the tokenization expressions above.
SHINGLE_TOKENIZER_VERSION = 1

#: Version of the LSH banding function that produces stored dedup-index
#: ``<prefix>_lsh`` tables (``_band_entries``). Stored bucket values are
#: probed by live banding of the delta in
#: ``incremental_dedup_indexed``, so the two MUST be the same function:
#: a silent mismatch would miss every near-duplicate instead of failing.
#: Checked at probe time; bump on ANY change to the bucket expression.
#: v2 (r14): bucket = multi-arg xxhash64 over the band's minhash longs
#: (was xxhash64 over the comma-joined stringified longs — 2.6× slower
#: map-side, same collision semantics).
DEDUP_INDEX_VERSION = 2

#: DataFrames persisted by dedup internals (candidate-pair relations,
#: delta shingle caches) and verify-store broadcasts, not yet released.
#: persist() is the point — every verify-stage consumer reads the same
#: blocks — but a long-lived session running many dedups would otherwise
#: accumulate cached blocks and broadcast files until LRU pressure evicts
#: them (ADVICE r12). Call :func:`release_dedup_caches` after the results
#: of a dedup call have been consumed (collected / written).
_TRACKED_PERSISTS: list = []


def _persist_tracked(df: DataFrame) -> DataFrame:
    """persist(MEMORY_AND_DISK) with registration for later release."""
    from pyspark.storagelevel import StorageLevel

    df = df.persist(StorageLevel.MEMORY_AND_DISK)
    _TRACKED_PERSISTS.append(df)
    return df


def release_dedup_caches() -> int:
    """Unpersist every relation the dedup pipelines cached, destroy every
    verify-store broadcast, and clear the registry; returns how many were
    released.

    Call it after consuming the output of ``minhash_dedup_pairs`` /
    ``incremental_dedup(_indexed)`` / ``dedup_clusters`` in a long-lived
    session. Unpersisting only drops cached blocks — lineage is intact, so
    a still-unconsumed plan recomputes — but a destroyed broadcast is gone:
    a plan built before the release that verifies through the Arrow kernel
    fails if it runs after it."""
    n = 0
    while _TRACKED_PERSISTS:
        obj = _TRACKED_PERSISTS.pop()
        try:
            if isinstance(obj, DataFrame):
                obj.unpersist()
            else:
                obj.destroy()
            n += 1
        except Exception:  # session already stopped — nothing to release
            pass
    return n


# ---------------------------------------------------------------------------
# tokenization helpers (pure column expressions)
# ---------------------------------------------------------------------------


def normalized_text(col: Column) -> Column:
    """Lowercase, strip non-alphanumerics, collapse whitespace."""
    return F.trim(F.regexp_replace(F.regexp_replace(F.lower(col), r"[^a-z0-9\s]", " "), r"\s+", " "))


def words(col: Column) -> Column:
    return F.split(normalized_text(col), " ")


def word_shingles(col: Column, n: int = 3) -> Column:
    """Distinct word n-gram shingles as an array<string> column.

    NOTE (perf): the ``words`` macro sits inside the transform lambda, so
    Catalyst re-evaluates the whole normalize+split pipeline PER SHINGLE
    INDEX (no CSE across higher-order-function lambda boundaries) —
    quadratic in document length. Fine on small frames; pipeline code
    projects ``words`` first and shingles that column with
    ``_shingles_of_words`` (CollapseProject keeps multi-use non-cheap
    aliases separate), which is linear — see ``_shingle_arrays``."""
    return _shingles_of_words(words(col), n)


def _shingles_of_words(w: Column, n: int) -> Column:
    """Shingle expression over an ALREADY-MATERIALIZED words column."""
    return F.array_distinct(
        F.transform(
            F.sequence(F.lit(0), F.greatest(F.size(w) - n, F.lit(0))),
            lambda i: F.concat_ws(" ", F.slice(w, i + 1, n)),
        )
    )


def _shingle_arrays(
    df: DataFrame, text_col: str, id_col: str, n: int
) -> DataFrame:
    """(id, sh: array<string>) — linear-time shingling via a two-step
    projection (see word_shingles perf note)."""
    base = _ensure_parallelism(
        df.select(F.col(id_col).alias("id"), F.col(text_col).alias("__t"))
    )
    w = base.select("id", words(F.col("__t")).alias("__w"))
    return w.select("id", _shingles_of_words(F.col("__w"), n).alias("sh"))


def _hashed_shingle_arrays(
    df: DataFrame, text_col: str, id_col: str, n: int
) -> DataFrame:
    """(id, sh: array<long>) — shingles hashed to 64 bits AT THE SOURCE:
    the hashed shingle STORE, the one input of the MinHash signature
    stage (:func:`_signatures`) and of the Jaccard verify.

    Every consumer (signature min-aggs, verification intersects, the
    checkpoint itself) only ever needs shingle IDENTITY, so hashing once
    here replaces string arrays with long arrays — smaller checkpoint,
    cheaper explode, integer instead of string comparisons in
    array_intersect (~25 % off the whole minhash stage at sf0.1).

    Collision analysis (why Jaccard on hashes is safe): an error needs a
    collision WITHIN one candidate pair's shingle union — P ≈ |union|²/2⁶⁵
    ≈ 1e-12 at 10⁴ shingles/doc. Corpus-wide birthday collisions across
    different pairs don't affect any pair's intersect/union counts."""
    return _shingle_arrays(df, text_col, id_col, n).select(
        "id", F.transform("sh", lambda s: F.xxhash64(s)).alias("sh")
    )


def _shingle_rows(df: DataFrame, text_col: str, id_col: str, n: int) -> DataFrame:
    """(id, g: string) exploded shingles — the n-gram overlap input of
    the decontamination operators.

    explode_outer, NOT explode: Catalyst's InferFiltersFromGenerate adds a
    ``size(sh) > 0`` filter for plain explode, and filter pushdown inlines
    the ENTIRE shingle pipeline into that predicate — re-running
    normalize+split once per shingle index (quadratic per document; was
    ~10× the whole minhash cost at sf0.1). The shingle array is never
    empty (sequence(0, greatest(..,0)) emits index 0 even for short docs),
    so outer semantics are identical; the null guard is belt-and-braces.

    The empty shingle '' (null / punctuation-only / empty documents all
    normalize to it) is filtered, so contentless documents overlap
    nothing — as in the MinHash signature stage (:func:`_signatures`)."""
    return (
        _shingle_arrays(df, text_col, id_col, n)
        .select("id", F.explode_outer("sh").alias("g"))
        .filter(F.col("g").isNotNull() & (F.col("g") != ""))
    )


# ---------------------------------------------------------------------------
# exact dedup
# ---------------------------------------------------------------------------


def content_fingerprint(col: Column) -> Column:
    """Deterministic document fingerprint: md5 of normalized text
    (the rolling-hash fingerprint surface; md5 keeps oracle parity)."""
    return F.md5(normalized_text(col))


def exact_duplicates(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_members: int = 10_000,
) -> DataFrame:
    """Groups of exact duplicates by content fingerprint.

    Returns (fingerprint, dup_count, doc_ids). groupBy on the 32-byte hash —
    the canonical 100 TB exact-dedup plan (shuffle keys are hashes, not
    documents). ``doc_ids`` is capped at ``max_members`` per group, and the
    cap is enforced BEFORE the list aggregation (row_number window + filter)
    so a pathological fingerprint (empty/boilerplate docs repeated millions
    of times) never materializes an unbounded array in an aggregation
    buffer — the window's sort state is spillable; a collect_list buffer is
    not. ``dup_count`` stays exact via a count over the same partition."""
    from pyspark.sql import Window

    fp_df = df.select(
        content_fingerprint(F.col(text_col)).alias("fingerprint"), F.col(id_col)
    )
    w = Window.partitionBy("fingerprint")
    ranked = fp_df.select(
        "fingerprint",
        F.col(id_col),
        F.row_number().over(w.orderBy(id_col)).alias("__rn"),
        F.count(F.lit(1)).over(w).alias("__cnt"),
    )
    return (
        ranked.filter((F.col("__cnt") > 1) & (F.col("__rn") <= max_members))
        .groupBy("fingerprint")
        .agg(
            F.first("__cnt").cast("long").alias("dup_count"),
            F.sort_array(F.collect_list(id_col)).alias("doc_ids"),
        )
    )


def dedup_exact(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Keep one representative (min id) per distinct normalized content."""
    from pyspark.sql import Window

    w = Window.partitionBy(content_fingerprint(F.col(text_col))).orderBy(F.col(id_col))
    return df.withColumn("__rn", F.row_number().over(w)).filter(F.col("__rn") == 1).drop("__rn")


# ---------------------------------------------------------------------------
# MinHash + LSH
# ---------------------------------------------------------------------------


def _ensure_parallelism(df: DataFrame) -> DataFrame:
    """Small single-file inputs arrive as 1-2 partitions, serializing every
    downstream CPU-heavy expression onto one core. Repartition up to the
    cluster's parallelism when the scan is narrower than half of it — a
    no-op on real (many-partition) corpora, one cheap shuffle otherwise."""
    target = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < max(target // 2, 2):
        return df.repartition(target)
    return df


def minhash_signatures(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 64,
    shingle_n: int = 3,
) -> DataFrame:
    """Per-document MinHash signature columns h0..h{k-1} (bigint): the
    hashed shingle store of ``df`` (:func:`_hashed_shingle_arrays`)
    through :func:`_signatures`, the signature stage every MinHash caller
    runs. A document's hᵢ is ``min(pmod(aᵢ·pmod(xxhash64(g), p) + bᵢ, p))``
    over its distinct non-empty word shingles g."""
    return _signatures(
        _hashed_shingle_arrays(df, text_col, id_col, shingle_n), num_hashes
    )


def _signatures(sh: DataFrame, num_hashes: int) -> DataFrame:
    """(id, h0..h{k-1}) MinHash signatures of a hashed shingle store
    ``sh`` (id, sh: array<long>).

    Plan shape: explode the store's shingle hashes ONCE, reduce each to a
    31-bit residue, then derive the k independent hash families as seeded
    affine transforms ``(aᵢ·x + bᵢ) mod p`` (p = 2³¹-1 — the classic
    universal-hash MinHash construction, same family Spark MLlib's
    MinHashLSH uses), and ONE groupBy(id) computing k ``min`` aggregates
    (map-side partial agg). The shingle strings were hashed once, in the
    store; the affine form replaces k-1 further hash passes with two
    integer ops each, the dominant CPU saving at corpus scale. Operands
    stay < 2³¹ so products fit a long — no ANSI overflow.

    Deliberately NOT a single giant nested-array expression: inlining k
    ``array_min(transform(...))`` macros gets re-expanded by Catalyst's
    projection collapse into every downstream band expression (k×bands
    copies of the shingle pipeline), which explodes analysis/codegen time
    long before data size matters. The exploded+aggregated form keeps the
    expression tree linear in k and scales to any corpus.

    explode_outer, NOT explode: Catalyst's InferFiltersFromGenerate adds a
    ``size(sh) > 0`` filter for plain explode, and filter pushdown inlines
    the ENTIRE shingle pipeline of an inline store into that predicate —
    re-running normalize+split once per shingle index (quadratic per
    document). The hash of the empty shingle '' (null / punctuation-only
    / empty documents all normalize to it; ``xxhash64('')`` is
    constant-folded) is filtered: otherwise every contentless document
    shares ONE signature, forming a single giant LSH bucket. Contentless
    docs simply have no signature here; exact-dedup (fingerprint groupBy)
    is the right tool for them."""
    hashed = (
        sh.select("id", F.explode_outer("sh").alias("g"))
        .filter(F.col("g").isNotNull() & (F.col("g") != F.xxhash64(F.lit(""))))
        .select("id", F.pmod(F.col("g"), F.lit(_MERSENNE_31)).alias("x"))
    )
    coefs = _minhash_coefficients(num_hashes)
    # one F.expr per hash family instead of ~8 py4j round trips each
    # (r14, litexpr rationale): the k agg expressions are rendered as SQL
    # and parsed JVM-side — identical plan (INT literals, same pmod tree),
    # ~6× cheaper to construct at k=64
    return hashed.groupBy("id").agg(
        *[
            F.expr(f"min(pmod({a} * x + {b}, {_MERSENNE_31}))").alias(f"h{i}")
            for i, (a, b) in enumerate(coefs)
        ]
    )


_MERSENNE_31 = (1 << 31) - 1


def _minhash_coefficients(num_hashes: int) -> list[tuple[int, int]]:
    """Deterministic (aᵢ, bᵢ) pairs for the affine hash families — fixed
    seed so signatures are reproducible across runs and engines."""
    import random

    rng = random.Random(0x5EED)
    return [
        (rng.randrange(1, _MERSENNE_31), rng.randrange(0, _MERSENNE_31))
        for _ in range(num_hashes)
    ]


def _band_entries(sig: DataFrame, num_hashes: int, bands: int) -> DataFrame:
    """(id, band, bucket) LSH band entries from a signature table — each
    band's bucket is one xxhash64 over that band's row of minhashes.
    Shared by the candidate stage (:func:`_bucket_pairs`) and the
    persisted index (``write_dedup_index``) so stored and live banding can
    never drift.

    The bucket hashes the band's minhash LONGS directly (multi-arg
    xxhash64) rather than stringifying them (r14, guide §1.2 per-task
    work): the former CAST-to-STRING + concat_ws form allocated ~10
    chars per hash per corpus row before hashing — measured 2.6× slower
    map-side at 2M rows × 32 bands.
    Collision SEMANTICS are unchanged: two docs share a bucket iff their
    band's hash tuple is equal (either form), modulo ~2⁻⁶⁴ xxhash64
    collisions that only ADD candidates for the Jaccard verify to drop —
    the verified pair set is identical, which is what the exhaustive
    DuckDB oracle pins. Stored LSH indexes persist bucket values, so
    this is a FORMAT change for them: ``DEDUP_INDEX_VERSION`` is bumped
    and enforced at probe time (a v1 index raises instead of silently
    missing every near-duplicate)."""
    rows_per_band = num_hashes // bands
    # whole banding array rendered as ONE SQL expression (r14, litexpr
    # rationale): identical named_struct/xxhash64 tree, one py4j
    # call instead of ~10 per band
    structs = ",".join(
        "named_struct('band', {b}, 'bucket', xxhash64({cols}))".format(
            b=b,
            cols=",".join(
                f"h{b * rows_per_band + r}" for r in range(rows_per_band)
            ),
        )
        for b in range(bands)
    )
    return sig.select(
        "id", F.explode(F.expr(f"array({structs})")).alias("bb")
    ).select("id", F.col("bb.band").alias("band"), F.col("bb.bucket").alias("bucket"))


def minhash_lsh_candidates(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 64,
    bands: int = 32,
    shingle_n: int = 3,
    max_bucket_size: int | None = DEFAULT_MAX_BUCKET_SIZE,
) -> DataFrame:
    """Candidate near-duplicate pairs via banded LSH.

    bands b × rows r (= num_hashes/b): docs agreeing on ALL r minhashes in
    any band land in the same bucket → pair. Collision prob ≈ 1-(1-s^r)^b.
    Returns (id_a, id_b) with id_a < id_b, distinct across bands.

    ``max_bucket_size`` is the SKEW GUARD for boilerplate-heavy corpora:
    a bucket of m near-identical documents (cookie banners, templated
    pages) otherwise emits m²/2 pairs per band — quadratic blowup on
    exactly the data that needs dedup most. Buckets over the cap degrade
    to STAR edges (bucket-min id → every member): candidate count drops
    from O(m²) to O(m), transitive CLUSTERING connectivity is preserved
    for every member that VERIFIES against the bucket-min hub, and the
    recall loss is precisely the member pairs that are ≥ threshold vs
    EACH OTHER but < threshold vs the hub — their direct pair is never
    emitted, so after verification that sub-family can fragment away
    from the hub's cluster. The guard is ON by default
    (``DEFAULT_MAX_BUCKET_SIZE`` = 512, VERDICT r10 #3 — production
    corpora are exactly the ones that hit monster buckets); when it
    engages, a warning logs the observed worst bucket. Pass ``None``
    for exact all-pairs semantics — the mode the DuckDB oracle slots
    pin — and/or run exact dedup first so identical documents never
    form the bucket. Both modes run the same candidate stage
    (:func:`_bucket_pairs`); ``None`` only stops the star degradation.

    The signatures come from the hashed shingle store of ``df``
    (:func:`_hashed_shingle_arrays`), as in every dedup call; the
    signature table is aggregated (a real shuffle barrier), so band
    bucket hashes are cheap column refs — Catalyst cannot re-inline the
    shingle pipeline into them.
    """
    sh = _hashed_shingle_arrays(df, text_col, id_col, shingle_n)
    pairs, _ = _lsh_pair_rows(sh, num_hashes, bands, max_bucket_size)
    return pairs.dropDuplicates()


def _lsh_pair_rows(
    sh: DataFrame, num_hashes: int, bands: int, max_bucket_size: int | None
) -> tuple[DataFrame, int]:
    """(id_a, id_b) rows with id_a < id_b: every candidate pair of the
    hashed shingle store ``sh`` (id, sh: array<long>), possibly more than
    once — the caller deduplicates (``dropDuplicates``, or a
    ``collect_set`` grouping that needs the same shuffle anyway) — and a
    measured upper bound on the number of distinct pairs, in both the
    capped and the exact mode: the store's signatures, banded, through
    :func:`_bucket_pairs`. An observation attached to ``sh`` lands on
    that function's checkpoint job."""
    if bands > num_hashes or num_hashes % bands != 0:
        raise ValueError(
            f"bands must divide num_hashes (got num_hashes={num_hashes}, "
            f"bands={bands}): rows_per_band=0 would put EVERY document in "
            "one shared bucket (all-pairs join), and a remainder silently "
            "drops trailing hashes"
        )
    sig = _signatures(sh, num_hashes)
    return _bucket_pairs(_band_entries(sig, num_hashes, bands), max_bucket_size)


def _bucket_pairs(
    entries: DataFrame, max_bucket_size: int | None
) -> tuple[DataFrame, int]:
    """(id_a, id_b) rows with id_a < id_b for the ids that share a
    (band, bucket) in ``entries`` (id, band, bucket), possibly repeated,
    and the number of rows — an upper bound on the distinct pairs. The
    one candidate producer of the banded-LSH operators: minhash
    (:func:`_lsh_pair_rows`), the embedding sign-LSH of
    :func:`embedding_near_duplicates` and ``neighbors.lof_embeddings``.

    ONE groupBy collects each bucket's DISTINCT sorted member ids (state
    is O(bucket size) ids — bounded by the corpus, never quadratic; a
    repeated id pairs with nothing, least of all itself); singleton
    buckets are dropped. Pairs then expand from the distinct member SETS,
    not from every (band, bucket) row (r14, guide §2.3 shuffle fewer
    bytes): on a duplicate-heavy corpus — exactly the dedup workload — all
    b bands of an m-copy duplicate group collide on the SAME sorted member
    list, so expanding per band-bucket emits each pair up to b times only
    for the caller's dedup to discard (measured at the 500k-doc decade
    corpus: 1.02M grouped rows → 630k distinct member sets, ~800M
    pre-dedup pair rows → ~35M, candidate stage 25.9 → 8.8 s, pair set
    bit-identical).

    The member-set grouping runs inside ONE checkpoint job, which also
    observes the pair bound and the skew-guard stats, keeping ``n``, the
    number of band-buckets per set, so they are band-bucket counts: worst
    bucket = max set size, over-cap buckets = sum of ``n`` over sets
    larger than ``max_bucket_size``. A set of m ≤ cap members (every set,
    with no cap) expands to all C(m, 2) pairs, a larger one to the m - 1
    STAR edges from its min id (see :func:`minhash_lsh_candidates`); the
    guard's warning is logged only when a cap is set and a set exceeds it.

    The expansion is two generators in one codegen stage — ``posexplode``
    of the members, then ``explode`` of each member's higher-id suffix —
    so no generated row holds more than one member set (an uncapped
    bucket of m members never builds an array of C(m, 2) structs), and no
    higher-order function runs."""
    small = (
        F.lit(True) if max_bucket_size is None
        else F.size("ids") <= max_bucket_size
    )
    stats = Observation()
    grouped = (
        entries.groupBy("band", "bucket")
        .agg(F.sort_array(F.collect_set("id")).alias("ids"))
        .filter(F.size("ids") > 1)
        .groupBy("ids")
        .agg(F.count(F.lit(1)).alias("n"))
        .observe(
            stats,
            F.max(F.size("ids")).alias("mx"),
            F.sum(F.when(~small, F.col("n"))).alias("over"),
            F.sum(
                F.when(small, F.size("ids") * (F.size("ids") - 1) / 2)
                .otherwise(F.size("ids") - 1)
                .cast("long")
            ).alias("pairs"),
        )
        .localCheckpoint(eager=True)
    )
    stats = stats.get
    if stats["over"]:
        logger.warning(
            "LSH skew guard engaged: %d band-bucket(s) exceed "
            "max_bucket_size=%d (worst observed bucket: %d members) — "
            "degrading them to star edges; pass max_bucket_size=None "
            "for exact all-pairs semantics",
            int(stats["over"]),
            int(max_bucket_size),
            int(stats["mx"]),
        )
    members = grouped.select("ids", F.posexplode("ids").alias("i", "id_a"))
    if max_bucket_size is not None:
        members = members.filter(small | (F.col("i") == 0))
    pairs = members.select(
        "id_a", F.explode(F.expr("slice(ids, i + 2, size(ids))")).alias("id_b")
    )
    return pairs, int(stats["pairs"] or 0)


def write_shingle_layout(
    df: DataFrame,
    table: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 3,
    buckets: int = 64,
    database: str = "truthound_layout",
    location: str | None = None,
) -> str:
    """Persist the hashed-shingle table ``(id, sh: array<long>)`` bucketed
    by id; returns the fully-qualified table name.

    The layout backbone for repeated dedup over the same corpus: feed the
    returned name to ``minhash_dedup_pairs(shingle_table=...)`` or
    ``incremental_dedup(base_shingle_table=...)``. One shingle pass and
    one bucketing shuffle are paid HERE, once; every later run then (a)
    never re-tokenizes the corpus, (b) reuses it fault-tolerantly (a
    table scan re-reads lost blocks — unlike ``localCheckpoint``, whose
    pinned blocks die with their executor), and (c) feeds every id-keyed
    consumer — the signature groupBy and the over-budget verify attaches
    — from the bucketed hash distribution instead of a fresh shuffle.
    Bucket count is the layout contract (see ``layout.write_bucketed``):
    size it so one bucket of the corpus is a few hundred MB.

    ``shingle_n`` and the tokenizer version ride in table properties
    (``truthound.shingles.meta``) and are enforced when the table is read
    back by ``minhash_dedup_pairs(shingle_table=)`` /
    ``incremental_dedup(base_shingle_table=)`` — cross-side Jaccard
    between shingles of different n (or a different tokenizer) is
    near-zero, so a mismatch would silently drop every near-duplicate
    instead of erroring (ADVICE r12)."""
    import json as _json

    from truthound_spark.layout import write_bucketed

    sh = _hashed_shingle_arrays(df, text_col, id_col, shingle_n)
    # field is "tok_version", NOT "tokenizer_version": Spark redacts any
    # SHOW TBLPROPERTIES VALUE matching spark.redaction.string.regex
    # (default matches "token"), which would hand the reader
    # '*********(redacted)' instead of the JSON
    meta = _json.dumps(
        {
            "version": 1,
            "shingle_n": shingle_n,
            "tok_version": SHINGLE_TOKENIZER_VERSION,
            # source identity for auto-detection (find_shingle_layout):
            # md5 of the corpus scan's sorted file list, or None when the
            # input wasn't a bare scan (derived frames are never
            # auto-matched — their row set isn't recoverable)
            "source_md5": _source_fingerprint(df),
            "text_col": text_col,
            "id_col": id_col,
        }
    )
    # properties ride through write_bucketed so they ALSO land in the
    # on-disk layout sidecar — a fresh session re-attaches the layout
    # (layout.attach_layout) with the meta intact instead of re-shingling
    return write_bucketed(
        sh, table, "id", buckets=buckets, database=database, location=location,
        properties={"truthound.shingles.meta": meta},
    )


def _source_fingerprint(df: DataFrame) -> str | None:
    """Identity of a BARE corpus scan: md5 over the sorted file list,
    each entry tagged with the file's LENGTH and MODIFICATION TIME.

    None for anything that is not scan-only (filters, projections,
    limits, joins — any transformation means the frame's row/content set
    is not the files', so a stored per-document layout must not be
    matched to it). The scan-only test walks the ANALYZED plan: every
    line must be a Relation or SubqueryAlias node.

    Length+mtime are part of the identity (ADVICE r13): a corpus whose
    files were REWRITTEN IN PLACE under the same names (fixed-name
    writers, same-path overwrite by non-Spark tools) must not match a
    layout stored for the old content. Statuses come from one Hadoop
    ``listStatus`` per distinct parent directory (driver-side metadata,
    one LIST per dataset dir even on object stores — never per-file HEAD
    calls in the common layout). If status listing fails the fallback is
    the historical path-only digest, tagged ``paths-only:`` — it can
    only ever match a layout that was ITSELF stored without statuses, so
    a degraded probe can never silently match a status-tagged layout."""
    import hashlib

    try:
        plan = df._jdf.queryExecution().analyzed().toString()
    except Exception:
        return None
    for ln in plan.splitlines():
        s = ln.strip()
        while s[:2] in ("+-", ":-", ": ") or s[:1] in ("+", ":", "-", " "):
            s = s[2:].strip() if s[:2] in ("+-", ":-") else s[1:].strip()
        if not s:
            continue
        if not (s.startswith("Relation") or s.startswith("SubqueryAlias")):
            return None
    try:
        files = sorted(df.inputFiles())
    except Exception:
        return None
    if not files:
        return None
    if len(files) > FP_STATUS_MAX_FILES:
        # bound the driver-side metadata work (VERDICT r14 #4): one
        # listStatus per distinct parent dir is fine for the common
        # one-directory dataset, but a multi-partition corpus at object-
        # store scale could mean thousands of LIST calls per dedup-family
        # probe. Past the bound, fall back to the path-only digest — it
        # can only ever match a layout that was ITSELF stored paths-only
        # (same file set ⇒ same branch both at write and probe time), so
        # the degraded identity is still never wrong, just coarser.
        digest = hashlib.md5("\n".join(files).encode()).hexdigest()
        return f"paths-only:{digest}"
    statuses = _file_statuses(df.sparkSession, files)
    if statuses is None:
        digest = hashlib.md5("\n".join(files).encode()).hexdigest()
        return f"paths-only:{digest}"
    lines = [f"{p}\t{length}\t{mtime}" for p, length, mtime in statuses]
    return hashlib.md5("\n".join(lines).encode()).hexdigest()


def _file_statuses(spark, files: list[str]) -> list[tuple[str, int, int]] | None:
    """(path, length, modificationTime) for each file, in input order.

    One ``FileSystem.listStatus`` per distinct PARENT directory (a
    parquet dataset is typically one directory, so one metadata RPC
    covers the whole corpus); stragglers not covered by their parent's
    listing (e.g. pattern reads) fall back to per-path getFileStatus.
    None when the filesystem can't be consulted at all."""
    try:
        jvm = spark._jvm
        hconf = spark._jsc.hadoopConfiguration()
        # key on the URI *path component*: inputFiles() ("file:///x/y")
        # and FileStatus.getPath() ("file:/x/y") render the same file
        # with different scheme spellings
        by_path: dict[str, tuple[int, int]] = {}
        # full URI string for the LISTING (keeps the scheme — a
        # scheme-less parent would resolve against the default fs),
        # path-component string for the KEY
        parents: set[str] = set()
        for p in files:
            jpath = jvm.org.apache.hadoop.fs.Path(p)
            parents.add(str(jpath.getParent()))
        for parent in sorted(parents):
            jparent = jvm.org.apache.hadoop.fs.Path(parent)
            fs = jparent.getFileSystem(hconf)
            for st in fs.listStatus(jparent):
                by_path[str(st.getPath().toUri().getPath())] = (
                    st.getLen(),
                    st.getModificationTime(),
                )
        out = []
        for p in files:
            jpath = jvm.org.apache.hadoop.fs.Path(p)
            hit = by_path.get(str(jpath.toUri().getPath()))
            if hit is None:
                st = jpath.getFileSystem(hconf).getFileStatus(jpath)
                hit = (st.getLen(), st.getModificationTime())
            out.append((p, hit[0], hit[1]))
        return out
    except Exception:
        return None


def find_shingle_layout(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 3,
    database: str = "truthound_layout",
) -> str | None:
    """The stored shingle table matching this EXACT corpus, or None.

    The auto-detect probe behind ``shingle_table="auto"`` (the default):
    same pattern as ``orphans()``'s bucketed-FK plan probe (r12 #9) —
    layout reuse without the caller opting in, engaged only when it is
    provably safe. Match requires ALL of: ``df`` is a bare scan whose
    sorted file-list md5 equals the one recorded at
    :func:`write_shingle_layout` time (a grown/changed corpus or any
    filter/projection disqualifies — stale layouts are never silently
    reused), same text/id columns, same shingle_n, same tokenizer
    version. Probe cost is driver-side catalog metadata only."""
    import json as _json

    spark = df.sparkSession
    fp = _source_fingerprint(df)
    if fp is None:
        return None
    try:
        tables = spark.catalog.listTables(database)
    except Exception:
        return None  # layout database absent — nothing to reuse
    for tb in tables:
        fq = f"{tb.namespace[0] if tb.namespace else database}.{tb.name}"
        try:
            rows = spark.sql(
                f"SHOW TBLPROPERTIES {fq} ('truthound.shingles.meta')"
            ).collect()
            if not rows or "does not have property" in str(rows[0]):
                continue
            meta = _json.loads(rows[0]["value"])
        except Exception:
            continue
        if (
            meta.get("source_md5") == fp
            and int(meta.get("shingle_n", -1)) == shingle_n
            and int(meta.get("tok_version", 1)) == SHINGLE_TOKENIZER_VERSION
            and meta.get("text_col") == text_col
            and meta.get("id_col") == id_col
        ):
            logger.info(
                "auto-selected stored shingle layout %r for this corpus "
                "(source fingerprint + params match)",
                fq,
            )
            return fq
    return None


def _check_shingle_meta(spark, table: str, shingle_n: int) -> None:
    """Raise if a stored shingle table's recorded (shingle_n, tokenizer
    version) disagree with the caller's parameters.

    Tables written before the metadata existed carry no property; those
    get a WARNING, not an error — the caller may know the n is right,
    and failing would brick every pre-r13 layout."""
    import json as _json

    rows = spark.sql(
        f"SHOW TBLPROPERTIES {table} ('truthound.shingles.meta')"
    ).collect()
    if not rows or "does not have property" in str(rows[0]):
        logger.warning(
            "shingle table %r carries no truthound.shingles.meta (written "
            "before r13?): cannot verify it used shingle_n=%d — an n "
            "mismatch silently reports near-zero Jaccard everywhere",
            table,
            shingle_n,
        )
        return
    meta = _json.loads(rows[0]["value"])
    stored_n = int(meta["shingle_n"])
    stored_tok = int(meta.get("tok_version", 1))
    if stored_n != shingle_n or stored_tok != SHINGLE_TOKENIZER_VERSION:
        raise ValueError(
            f"shingle table {table!r} was written with shingle_n={stored_n} "
            f"tokenizer_version={stored_tok}, but this run uses "
            f"shingle_n={shingle_n} tokenizer_version="
            f"{SHINGLE_TOKENIZER_VERSION}; cross-side Jaccard would be "
            "near-zero and every near-duplicate silently missed — rewrite "
            "the layout (write_shingle_layout) or pass the matching n"
        )


def _pair_relation_bytes(rel: DataFrame, n_rows: int) -> int:
    """Estimated in-memory size of ``rel`` as a broadcast hash relation.

    Deliberately conservative (per-row object/entry overhead dominates
    bare id pairs): fixed-width fields cost 8 bytes, everything else 32,
    plus 48 bytes/row of hash-relation overhead. The point is the ORDER
    of magnitude — the gate must flip to the shuffle path well before
    the 8 GB broadcast ceiling, not model JVM layout exactly."""
    from pyspark.sql.types import (
        BooleanType,
        ByteType,
        DateType,
        DoubleType,
        FloatType,
        IntegerType,
        LongType,
        ShortType,
        TimestampType,
    )

    fixed = (
        BooleanType,
        ByteType,
        ShortType,
        IntegerType,
        LongType,
        FloatType,
        DoubleType,
        DateType,
        TimestampType,
    )
    per_row = 48
    for f in rel.schema.fields:
        per_row += 8 if isinstance(f.dataType, fixed) else 32
    return n_rows * per_row


def _payload_measures(arr_col: str, strings: bool = False) -> tuple[Column, ...]:
    """Row count and total element count of an (id, <array>) relation,
    plus, for string or binary elements (``strings``), their summed byte
    length — the measurements behind :func:`_payload_bytes`. An
    ``UnsafeArrayData`` stores each variable-length element's bytes
    rounded up to an 8-byte word, so each length is summed rounded."""
    measures = (
        F.count(F.lit(1)).alias("n"),
        F.coalesce(F.sum(F.size(arr_col)), F.lit(0)).alias("e"),
    )
    if strings:
        octets = F.aggregate(
            arr_col,
            F.lit(0).cast("long"),
            lambda acc, x: acc
            + F.coalesce((F.octet_length(x) + 7).bitwiseAND(-8), F.lit(0)),
        )
        measures += (F.coalesce(F.sum(octets), F.lit(0)).alias("o"),)
    return measures


def _payload_bytes(measures: dict, elem_bytes: int) -> int:
    """Estimated in-memory size from :func:`_payload_measures` values:
    48 B a row, ``elem_bytes`` an element, plus the elements' own
    word-rounded bytes where they were measured. The values are real
    measurements, not a Catalyst estimate, because the verify-stage
    broadcast gate must never flip on a bad stats guess: observed
    (``Dataset.observe``) on a job that reads the relation anyway — the
    one that materializes it, or for a stored table the candidate
    checkpoint job."""
    return (
        int(measures["n"]) * 48
        + int(measures["e"]) * elem_bytes
        + int(measures.get("o", 0))
    )


#: Worker-side cache of the b-side shingle store's numpy views, keyed by
#: the broadcast's id — a token fixed when the plan is built and never
#: reused within a SparkContext, unlike an object id, which CPython hands
#: to a later call's store once the old one is collected (the pyspark
#: broadcast registry already caches the unpickled Table per worker
#: process; this caches the offsets/values numpy conversion on top —
#: §4.5 heavyweight init once per worker, not per task).
_VERIFY_STORE_CACHE: dict = {}


def _verify_store_np(tbl, key: int):
    hit = _VERIFY_STORE_CACHE.get(key)
    if hit is None:
        import numpy as np  # noqa: F401

        ids = tbl.column("id").to_numpy()
        col = tbl.column("sh").combine_chunks()
        offsets = col.offsets.to_numpy()
        flat = col.values.to_numpy(zero_copy_only=False)
        _VERIFY_STORE_CACHE.clear()  # at most one live store per worker
        _VERIFY_STORE_CACHE[key] = hit = (ids, offsets, flat)
    return hit


def _verify_pairs_arrow(
    store: DataFrame,
    pairs: DataFrame,
    a_side: DataFrame | None,
    n_pairs: int,
    broadcast_pairs_budget: int,
    a_rows: int | None,
) -> DataFrame:
    """(id_a, id_b, __na, __nb, __inter) for every distinct candidate
    pair via the r15 grouped Arrow merge-intersect kernel (guide §4.2/§8
    — VERDICT r14 #2).

    Why: the shuffle-hash verify ships one document-sized shingle array
    PER PAIR into the pair-key join (~56 GB at the decade corpus) and
    then pays a per-pair hash-set ``array_intersect`` (measured ~11 s of
    the 18 s verify on the r15 box). Here the decision data moves once
    per DOCUMENT instead: the ``store`` (id, sh) table — SORTED arrays,
    ordered by id — broadcasts to the Python workers, candidate rows
    (id_a, id_b; repeats allowed) group by ``id_a`` into one distinct
    ``id_b`` set per group (bare-id shuffle), and intersections are
    counted with vectorized ``np.searchsorted`` over each group's
    concatenated b-arrays. The bare ids group first; then each group's
    a-side array — from ``a_side`` (id, sh), else from ``store``'s own
    relation — attaches once, so no array travels with a per-pair row.
    The grouped bare ids broadcast into that attach only while
    ``n_pairs``, a measured upper bound on the pairs (and so on the
    groups), sizes them under ``broadcast_pairs_budget``; otherwise, or
    for an ``a_side`` (the indexed probe's bucketed base, whose pairs are
    laid out in its buckets), the attach is a shuffle-hash join — in place
    for pairs already hash-partitioned on ``id_a``.

    The stage that attaches the a-side arrays and runs the kernel is sized
    from its two measured inputs, ``n_pairs`` and ``a_rows`` (the row count
    of the a-side relation, which that stage scans whole): it is coalesced
    to ``max(1, ceil(max(n_pairs, a_rows) / VERIFY_PAIRS_PER_TASK))``
    partitions, so a verify whose whole stage is small runs in one Python
    task instead of one per input partition (each task costs ~0.24 s of
    worker CPU before its first row, the kernel 7-62 µs per pair; see
    ``VERIFY_PAIRS_PER_TASK``). Coalescing only merges partitions, so no
    row changes group; when the a-side was not measured (an index that
    recorded no doc count) the partitioning is left as it is.

    Bit-exactness: intersection COUNTS are integers — sorted-merge
    equality counting over the same distinct-element arrays returns
    exactly ``size(array_intersect(sh_a, sh_b))`` (both sides are
    ``array_distinct`` outputs; xxhash64 collisions within a pair are
    the same 1e-12 event the JVM path already accepts). The Jaccard
    division and threshold filter stay JVM-side as the identical
    expressions. Pairs whose ids miss the store are dropped exactly as
    the inner attach joins drop them.

    The store is collected unsorted (a global ``orderBy`` would cost a
    range-sampling job and a sort exchange) and sorted on the driver.
    Its broadcast is registered for :func:`release_dedup_caches`, which
    destroys it. Scale gate lives in :func:`_verify_pairs`: this path
    only runs when the store fits ``shingle_broadcast_budget``."""
    spark = store.sparkSession
    store_tbl = (
        store.select("id", F.sort_array("sh").alias("sh")).toArrow().sort_by("id")
    )
    bstore = spark.sparkContext.broadcast(store_tbl)
    _TRACKED_PERSISTS.append(bstore)
    store_key = bstore._jbroadcast.id()

    groups = pairs.groupBy("id_a").agg(F.collect_set("id_b").alias("ids"))
    a_arrays = (store if a_side is None else a_side).select(
        F.col("id").alias("id_a"), F.sort_array("sh").alias("sh_a")
    )
    if a_side is not None:
        rows = a_arrays.join(groups.hint("shuffle_hash"), "id_a")
    else:
        rows = _attach_pairs(
            a_arrays, groups, "id_a", n_pairs, broadcast_pairs_budget,
            elems=n_pairs,
        )
    rows = rows.select("id_a", "sh_a", "ids")
    if a_rows is not None:
        stage_rows = max(n_pairs, a_rows)
        rows = rows.coalesce(max(1, -(-stage_rows // VERIFY_PAIRS_PER_TASK)))

    def kernel(batches):
        import numpy as np
        import pyarrow as pa

        b_ids, b_off, b_flat = _verify_store_np(bstore.value, store_key)
        nb_store = len(b_ids)
        for batch in batches:
            n = batch.num_rows
            if n == 0:
                continue
            ida = batch.column(0).to_numpy(zero_copy_only=False)
            acol = batch.column(1)
            icol = batch.column(2)
            a_off = acol.offsets.to_numpy()
            a_flat = acol.values.to_numpy(zero_copy_only=False)
            i_off = icol.offsets.to_numpy()
            i_flat = icol.values.to_numpy(zero_copy_only=False)
            # locate every id_b in the sorted store in ONE searchsorted
            pos = np.searchsorted(b_ids, i_flat)
            pos_c = np.minimum(pos, nb_store - 1)
            found = b_ids[pos_c] == i_flat
            out_a, out_b, out_na, out_nb, out_int = [], [], [], [], []
            for i in range(n):
                lo, hi = i_off[i], i_off[i + 1]
                if lo == hi:
                    continue
                ok = found[lo:hi]
                if not ok.all():
                    # defensive: drop ids missing from the store (the
                    # inner-join semantics of the shuffle shape)
                    sel = np.nonzero(ok)[0] + lo
                else:
                    sel = np.arange(lo, hi)
                if len(sel) == 0:
                    continue
                p = pos_c[sel]
                a = a_flat[a_off[i] : a_off[i + 1]]
                na = len(a)
                lens = b_off[p + 1] - b_off[p]
                parts = [b_flat[b_off[j] : b_off[j + 1]] for j in p]
                bc = (
                    np.concatenate(parts)
                    if parts
                    else np.empty(0, dtype=b_flat.dtype)
                )
                if na:
                    idx = np.searchsorted(a, bc)
                    valid = idx < na
                    m = np.zeros(len(bc), dtype=np.bool_)
                    m[valid] = a[idx[valid]] == bc[valid]
                else:
                    m = np.zeros(len(bc), dtype=np.bool_)
                cs = np.concatenate(([0], np.cumsum(m)))
                ends = np.cumsum(lens)
                starts = ends - lens
                inter = cs[ends] - cs[starts]
                k = len(sel)
                out_a.append(np.full(k, ida[i], dtype=np.int64))
                out_b.append(i_flat[sel])
                out_na.append(np.full(k, na, dtype=np.int64))
                out_nb.append(lens.astype(np.int64))
                out_int.append(inter.astype(np.int64))
            if not out_a:
                continue
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(np.concatenate(out_a), type=pa.int64()),
                    pa.array(np.concatenate(out_b), type=pa.int64()),
                    pa.array(np.concatenate(out_na), type=pa.int64()),
                    pa.array(np.concatenate(out_nb), type=pa.int64()),
                    pa.array(np.concatenate(out_int), type=pa.int64()),
                ],
                names=["id_a", "id_b", "__na", "__nb", "__inter"],
            )

    return rows.mapInArrow(
        kernel, "id_a long, id_b long, __na long, __nb long, __inter long"
    )


def _verify_pairs(
    store: DataFrame,
    pairs: DataFrame,
    store_bytes: int,
    broadcast_pairs_budget: int,
    shingle_broadcast_budget: int,
    *,
    n_pairs: int,
    a_side: DataFrame | None = None,
    a_rows: int | None = None,
) -> DataFrame:
    """(id_a, id_b, jaccard) — exact shingle-set Jaccard of every distinct
    candidate pair in ``pairs`` (id_a, id_b; repeats allowed; ``n_pairs``
    a measured upper bound on their number). ``store``
    (id, sh) holds the b-side arrays, and the a-side ones unless
    ``a_side`` (id, sh) is given; ``a_rows`` is the measured row count of
    the a-side relation, or None. The one verify primitive of the minhash
    family, with one gate: ``store_bytes`` — the store's MEASURED size
    (:func:`_payload_bytes`) — against ``shingle_broadcast_budget``.

    Under the budget the grouped Arrow kernel runs
    (:func:`_verify_pairs_arrow`; ``n_pairs`` sizes its attach under
    ``broadcast_pairs_budget``, and ``n_pairs`` and ``a_rows`` together
    narrow its stage to one task per ``VERIFY_PAIRS_PER_TASK`` pairs or
    a-side rows). Over it (or at budget 0) the ceiling-free shuffle shape
    runs: the distinct pairs (``dropDuplicates``) attach each side's
    arrays through :func:`_attach_pairs`, both attaches sized by
    ``n_pairs`` under ``broadcast_pairs_budget`` — nothing is persisted
    or counted, and the two attaches read one exchange of the distinct
    pairs (exchange reuse) — and the pair-key join is pinned shuffle-hash
    (the per-pair enriched a-side is never a broadcast candidate at any
    scale: it is the largest relation in the pipeline, and Catalyst's
    size estimate flipping a join strategy on it late is exactly the plan
    instability this stage must not have). Both shapes return the same
    pair set and the same integer counts."""
    if 0 < shingle_broadcast_budget and store_bytes <= shingle_broadcast_budget:
        scored = _verify_pairs_arrow(
            store, pairs, a_side, n_pairs, broadcast_pairs_budget, a_rows
        )
    else:
        cands = pairs.dropDuplicates()
        a = (store if a_side is None else a_side).select(
            F.col("id").alias("id_a"), F.col("sh").alias("sh_a")
        )
        b = store.select(F.col("id").alias("id_b"), F.col("sh").alias("sh_b"))
        with_a = _attach_pairs(
            a, cands, "id_a", n_pairs, broadcast_pairs_budget
        ).select("id_a", "id_b", "sh_a")
        # a semi join on the same distinct pairs, not a distinct of their
        # id_b: Catalyst folds a distinct over a distinct into one
        # aggregate, which would expand the candidates a second time
        with_b = _attach_pairs(
            b, cands, "id_b", n_pairs, broadcast_pairs_budget, how="left_semi"
        ).select("id_b", "sh_b")
        scored = with_a.join(with_b.hint("shuffle_hash"), "id_b").select(
            "id_a",
            "id_b",
            F.size("sh_a").alias("__na"),
            F.size("sh_b").alias("__nb"),
            F.size(F.array_intersect("sh_a", "sh_b")).alias("__inter"),
        )
    inter = F.col("__inter").cast("double")
    return scored.select(
        "id_a",
        "id_b",
        (inter / (F.col("__na") + F.col("__nb") - F.col("__inter"))).alias("jaccard"),
    )


def _attach_pairs(
    side: DataFrame,
    rel: DataFrame,
    key: str,
    n_rows: int,
    budget_bytes: int,
    elems: int = 0,
    how: str = "inner",
) -> DataFrame:
    """Join (``how``) ``side`` (per-document payloads) with ``rel`` (bare
    candidate ids/pairs) on ``key``, choosing the join strategy by
    MEASURED size.

    Under ``budget_bytes`` the relation broadcasts — the lookup is
    map-side and the payload table is not shuffled for it. Over budget
    (or budget 0) the attach is a shuffle-hash join on the key: both
    sides shuffle by id, which costs one pass of the payload table but
    has no ceiling — the broadcast path dies past ~8 GB of pairs. Never
    sort-merge: the payload side carries document-sized arrays that a
    sort would spill pointlessly. ``elems`` counts the array elements
    ``rel`` carries (8 bytes each), e.g. the member ids of grouped
    pairs."""
    est = _pair_relation_bytes(rel, n_rows) + 8 * elems
    if budget_bytes > 0 and est <= budget_bytes:
        return side.join(F.broadcast(rel), key, how)
    logger.info(
        "candidate attach on %r exceeds broadcast budget "
        "(%d rows ~= %d bytes > %d): using shuffle-hash join",
        key,
        n_rows,
        est,
        budget_bytes,
    )
    return side.join(rel.hint("shuffle_hash"), key, how)


def minhash_dedup_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.7,
    num_hashes: int = 64,
    bands: int = 32,
    shingle_n: int = 3,
    max_bucket_size: int | None = DEFAULT_MAX_BUCKET_SIZE,
    broadcast_pairs_budget: int = DEFAULT_PAIR_BROADCAST_BUDGET,
    shingle_table: str | None = "auto",
    shingle_broadcast_budget: int = DEFAULT_SHINGLE_BROADCAST_BUDGET,
) -> DataFrame:
    """LSH candidates verified with exact shingle-set Jaccard.

    Returns (id_a, id_b, jaccard) for pairs ≥ threshold: the candidate
    pairs of the hashed shingle store (:func:`_lsh_pair_rows`) verified
    against the same store by :func:`_verify_pairs`, the one verify
    primitive of the minhash family. ``max_bucket_size`` passes through to the
    candidate stage's skew guard (see ``minhash_lsh_candidates``; guard
    ON by default, ``None`` = exact oracle mode).

    ``broadcast_pairs_budget`` gates the attach joins of both verify
    shapes (see :func:`_verify_pairs`): the bare ids broadcast only while
    their estimated size fits the budget; past it the attaches become
    shuffle-hash joins on the id key, which cost one shuffle of the
    shingle table but survive any pair count (a fixed broadcast dies at
    the 8 GB ceiling on a real corpus — VERDICT r11 #1). The size comes
    from an upper bound on the pairs that the candidate stage's
    checkpoint job measures; no verify shape re-counts them.

    ``shingle_table`` (written by :func:`write_shingle_layout`, bucketed
    by id) replaces the in-memory shingle recompute+checkpoint: reuse
    becomes fault-tolerant (a table scan, not pinned executor blocks) and
    every id-keyed consumer — the signature groupBy and the over-budget
    attach joins — reads the bucketed distribution instead of shuffling.
    ``shingle_table="auto"`` (the default, r13) probes the layout
    database for a stored table whose recorded source fingerprint
    matches this exact corpus (see :func:`find_shingle_layout`); when a
    layout exists the bucketed read is auto-selected — measured 46.4 s
    bucketed vs 62.4 s inline at the sf10 lane — and when none matches
    the inline path runs unchanged. Pass ``None`` to force inline.

    Either way the hashed shingle store (id, sh: array<long>) is the one
    input of the signature stage and the verify, and its size is measured
    on a job that runs anyway: the inline store's checkpoint job, or —
    for a stored table — an observation on the signature input, which
    lands on the candidate checkpoint job (no extra aggregate).
    ``shingle_broadcast_budget`` (r15) gates the verify join's shape on
    that size: under it the store broadcasts so the per-pair enriched
    relation never crosses an exchange (guide §8 — the decision data is
    one array per DOCUMENT; the heavy per-PAIR bytes move zero times);
    over it the pair-key shuffle-hash join runs. See
    ``DEFAULT_SHINGLE_BROADCAST_BUDGET`` for the measured rationale."""
    if shingle_table == "auto":
        shingle_table = find_shingle_layout(df, text_col, id_col, shingle_n)
    sh_size = Observation()
    if shingle_table is not None:
        _check_shingle_meta(df.sparkSession, shingle_table, shingle_n)
        sh = df.sparkSession.table(shingle_table).select("id", "sh")
        sig_input = sh.observe(sh_size, *_payload_measures("sh"))
    else:
        # shingle+hash each document exactly once: the checkpointed store
        # feeds BOTH the signature/banding pipeline and the Jaccard
        # verification (at 100 TB this is the difference between one and
        # two full-corpus tokenization passes). The checkpoint job also
        # measures the verify gate's payload size and the store's rows
        sh = sig_input = (
            _hashed_shingle_arrays(df, text_col, id_col, shingle_n)
            .observe(sh_size, *_payload_measures("sh"))
            .localCheckpoint(eager=True)
        )
    pairs, n_pairs = _lsh_pair_rows(sig_input, num_hashes, bands, max_bucket_size)
    measures = sh_size.get
    return _verify_pairs(
        sh, pairs, _payload_bytes(measures, 8),
        broadcast_pairs_budget, shingle_broadcast_budget,
        n_pairs=n_pairs, a_rows=int(measures["n"]),
    ).filter(F.col("jaccard") >= threshold)


# ---------------------------------------------------------------------------
# n-gram Jaccard (exact, inverted-index candidate generation)
# ---------------------------------------------------------------------------


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold: float = 0.4,
    max_ngram_df: int = 1000,
) -> DataFrame:
    """Exact n-gram Jaccard similarity for pairs sharing ≥1 n-gram.

    Inverted index (explode distinct n-grams) self-joined on the n-gram;
    hub n-grams appearing in > max_ngram_df docs are dropped (they generate
    quadratic candidates and carry no signal) — the standard scale guard.
    Returns (id_a, id_b, jaccard) with jaccard >= threshold.
    """
    # localCheckpoint: sh feeds FIVE evaluation sites (sizes, the gram-df
    # aggregate, both self-join sides, the df-filter join) — without it
    # each re-runs the tokenize+shingle pipeline from text (r13 HOF/reuse
    # sweep; same inline-reuse pattern as minhash_dedup_pairs). Downstream
    # re-explodes read the pinned (id, array) blocks, not the text.
    sh = _shingle_arrays(df, text_col, id_col, n).localCheckpoint(eager=True)
    sizes = sh.select("id", F.size("sh").alias("sz"))
    # explode_outer: see _shingle_rows — plain explode's inferred filter
    # pushes the inlined (quadratic) shingle pipeline below the projection
    inv = sh.select("id", F.explode_outer("sh").alias("g")).filter(F.col("g").isNotNull())
    g_df = inv.groupBy("g").agg(F.count(F.lit(1)).alias("df"))
    inv = inv.join(F.broadcast(g_df.filter(F.col("df") <= max_ngram_df)), "g", "inner")
    pairs = (
        inv.alias("a")
        .join(inv.alias("b"), (F.col("a.g") == F.col("b.g")) & (F.col("a.id") < F.col("b.id")))
        .groupBy(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    sa = sizes.withColumnRenamed("id", "id_a").withColumnRenamed("sz", "sz_a")
    sb = sizes.withColumnRenamed("id", "id_b").withColumnRenamed("sz", "sz_b")
    return (
        pairs.join(sa, "id_a")
        .join(sb, "id_b")
        .select(
            "id_a",
            "id_b",
            (F.col("inter").cast("double") / (F.col("sz_a") + F.col("sz_b") - F.col("inter"))).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------


def set_similarity_join(
    df: DataFrame,
    set_col: str,
    id_col: str = "doc_id",
    threshold: float = 0.5,
    broadcast_pairs_budget: int = DEFAULT_PAIR_BROADCAST_BUDGET,
    shingle_broadcast_budget: int = DEFAULT_SHINGLE_BROADCAST_BUDGET,
) -> DataFrame:
    """PREFIX-FILTERED exact set-similarity self-join (the SSJoin/PPJoin
    principle — Chaudhuri et al. '06, Xiao et al. '08): all pairs with
    Jaccard ≥ ``threshold`` over an arbitrary array column, without
    indexing every token. Elements order globally by (frequency asc,
    value) — rarest first — and each set contributes only its PREFIX of
    length n − ⌈t·n⌉ + 1 to the inverted index: if J(a,b) ≥ t then
    overlap ≥ ⌈t·n⌉ on each side, so the prefixes must intersect
    (prefix-filtering theorem). At t=0.8 the index holds ~20% of the
    tokens, and frequent tokens — the quadratic-bucket killers — land in
    suffixes, never in the index.

    This is the exact complement to MinHash (probabilistic, fixed-cost
    signatures): same verified output, no hashing error, better when
    sets are small or thresholds high. Candidates are bare id pairs,
    broadcast into the verification lookups only under
    ``broadcast_pairs_budget`` (measured after materialization; over
    budget the attach degrades to a shuffle-hash join on id — a pair
    relation has no broadcast ceiling that way); the enriched sides meet
    in a shuffle join, never a broadcast of payloads. Verification is
    exact array_intersect Jaccard. The per-set payload broadcasts into
    the verify join only while its size — measured on the job that
    checkpoints the sets, string and binary elements by their real byte
    length — fits ``shingle_broadcast_budget``; over it the verify join is
    shuffle-hash.

    Returns (id_a, id_b, jaccard) with id_a < id_b."""
    if not 0.0 < threshold <= 1.0:
        raise ValueError(f"threshold must be in (0, 1], got {threshold}")
    # materialize the distinct sets ONCE: the caller's set expression may
    # be arbitrarily expensive (e.g. the shingle macro), and it feeds the
    # frequency count, the prefix index AND both verification lookups —
    # without the checkpoint Catalyst inlines it into every consumer
    # (measured 30x on the sf0.1 shingle entry). The checkpoint job also
    # measures the sets' payload for the verify gate below: string and
    # binary elements by their real byte length, plus an 8 B slot each
    import pyspark.sql.types as T

    sets = df.select(
        F.col(id_col).cast("long").alias("id"),
        F.array_distinct(F.col(set_col)).alias("__s"),
    ).filter(F.size("__s") > 0)
    elem = sets.schema["__s"].dataType.elementType
    strings = isinstance(elem, (T.StringType, T.BinaryType))
    numeric = isinstance(elem, (T.LongType, T.IntegerType, T.DoubleType))
    elem_bytes = 8 if strings or numeric else 32
    sets_size = Observation()
    sets = sets.observe(sets_size, *_payload_measures("__s", strings)).localCheckpoint(
        eager=True
    )
    toks = sets.select("id", F.explode_outer("__s").alias("tok")).filter(
        F.col("tok").isNotNull()
    )
    freq = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("__f"))
    # per-set global order (freq asc, tok asc): rarest-first, total and
    # identical for every set
    # checkpointed: the prefix SELF-join below consumes this twice, and
    # Spark re-executes uncached lineage per consumer
    ordered = (
        toks.join(freq, "tok")
        .groupBy("id")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("__f", "tok"))),
                lambda s: s["tok"],
            ).alias("__sorted")
        )
        .localCheckpoint(eager=True)
    )
    n = F.size("__sorted")
    plen = n - F.ceil(F.lit(float(threshold)) * n).cast("int") + 1
    prefix = ordered.select(
        "id",
        n.alias("__n"),
        F.explode(F.slice("__sorted", 1, plen)).alias("tok"),
    )
    # length filter (PPJoin): J ≥ t forces overlap ≥ t·max(na, nb) ≤
    # min(na, nb), so size-mismatched pairs prune before the verify join.
    # Only candidate COUNT changes — every candidate is exactly verified —
    # so the filter cannot affect the output, only the work.
    t_lit = F.lit(float(threshold))
    cands = (
        prefix.alias("a")
        .join(prefix.alias("b"), "tok")
        .filter(
            (F.col("a.id") < F.col("b.id"))
            & (F.col("b.__n") >= t_lit * F.col("a.__n"))
            & (F.col("a.__n") >= t_lit * F.col("b.__n"))
        )
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .dropDuplicates()
    )
    wa = sets.select(F.col("id").alias("id_a"), F.col("__s").alias("__sa"))
    wb = sets.select(F.col("id").alias("id_b"), F.col("__s").alias("__sb"))
    # persist (MEMORY_AND_DISK), NOT localCheckpoint: lineage is retained,
    # so an executor loss recomputes the lost blocks instead of killing
    # the job (VERDICT r11 #2). The count both materializes the cache —
    # both attaches then read the same blocks — and is the pair bound of
    # the broadcast gate; this join has no candidate stage that measures
    # it. The cache lives until release_dedup_caches (ADVICE r12)
    cands = _persist_tracked(cands)
    n_pairs = cands.count()
    with_a = _attach_pairs(wa, cands, "id_a", n_pairs, broadcast_pairs_budget)
    # r15 verify-join gate (guide §8, same as minhash_dedup_pairs): the
    # per-document b-side broadcasts under the MEASURED budget so the
    # per-pair enriched a-side never crosses an exchange; over budget the
    # pair-key join stays pinned shuffle_hash (never let a size estimate
    # broadcast document-sized set payloads late at real scale).
    if (
        shingle_broadcast_budget > 0
        and _payload_bytes(sets_size.get, elem_bytes)
        <= shingle_broadcast_budget
    ):
        enriched = with_a.join(F.broadcast(wb), "id_b")
    else:
        enriched = with_a.join(wb.hint("shuffle_hash"), "id_b")
    inter = F.size(F.array_intersect("__sa", "__sb"))
    jac = inter / (F.size("__sa") + F.size("__sb") - inter).cast("double")
    return enriched.select(
        "id_a", "id_b", F.round(jac, 6).alias("jaccard")
    ).filter(F.col("jaccard") >= threshold)


def simhash(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """64-bit SimHash per document via Arrow-vectorized pandas UDF.

    (Weighted bit-voting over word hashes is genuinely non-relational —
    the sanctioned Pandas-UDF path; everything around it stays JVM-side.)
    Returns (id, simhash: bigint)."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("long")
    def sim(texts: pd.Series) -> pd.Series:
        import hashlib

        out = []
        for t in texts:
            if not t:
                out.append(0)
                continue
            counts = [0] * 64
            for w in t.lower().split():
                h = int.from_bytes(hashlib.md5(w.encode()).digest()[:8], "big")
                for i in range(64):
                    counts[i] += 1 if (h >> i) & 1 else -1
            v = 0
            for i in range(64):
                if counts[i] > 0:
                    v |= 1 << i
            # to signed 64-bit
            out.append(v - (1 << 64) if v >= (1 << 63) else v)
        return pd.Series(out)

    return df.select(F.col(id_col).alias("id"), sim(F.col(text_col)).alias("simhash"))


def hamming_blocked_pairs(
    sigs: DataFrame,
    sig_col: str = "sig",
    id_col: str = "id",
    max_hamming: int = 3,
) -> DataFrame:
    """Pairs of 64-bit signatures at Hamming distance ≤ max_hamming via
    4-segment pigeonhole blocking (any pair within distance 3 agrees on
    ≥ 1 of the 4 16-bit segments) — the generic engine behind SimHash
    text near-dup AND perceptual-hash media near-dup. Join only within
    segment buckets (linear candidates), verify with bit_count(xor).

    Deliberately its own self-join, not :func:`_bucket_pairs`: the join
    rows carry both signatures, so each pair is scored where it is
    formed; bare id pairs from the helper would need two attach joins to
    get the signatures back."""
    if max_hamming > 3:
        raise ValueError(
            f"max_hamming={max_hamming} exceeds the 4-segment pigeonhole "
            "guarantee (≤ 3); use more segments for larger radii"
        )
    base = sigs.select(F.col(id_col).alias("id"), F.col(sig_col).alias("sig"))
    seg = base.select(
        "id",
        "sig",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(s).alias("seg"),
                        F.shiftright(F.col("sig"), s * 16).bitwiseAND(F.lit(0xFFFF)).alias("key"),
                    )
                    for s in range(4)
                ]
            )
        ).alias("sk"),
    ).select("id", "sig", F.col("sk.seg").alias("seg"), F.col("sk.key").alias("key"))
    return (
        seg.alias("a")
        .join(
            seg.alias("b"),
            (F.col("a.seg") == F.col("b.seg"))
            & (F.col("a.key") == F.col("b.key"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.bit_count(F.col("a.sig").bitwiseXOR(F.col("b.sig"))).alias("hamming"),
        )
        .dropDuplicates(["id_a", "id_b"])
        .filter(F.col("hamming") <= max_hamming)
    )


def simhash_near_duplicates(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 3,
) -> DataFrame:
    """Near-dup pairs at Hamming distance ≤ max_hamming via 4-segment
    pigeonhole blocking: any pair within distance 3 agrees on ≥1 of 4
    16-bit segments → join only within segment buckets (linear candidates),
    verify with bit_count(xor) — all JVM-side after the signature."""
    sigs = simhash(df, text_col, id_col)
    return hamming_blocked_pairs(sigs, "simhash", "id", max_hamming)


# ---------------------------------------------------------------------------
# embedding near-dup (cosine)
# ---------------------------------------------------------------------------


def cosine_sim(a: Column, b: Column) -> Column:
    """Cosine similarity of two array<float/double> columns — pure
    higher-order-function column math (zip_with + aggregate), JVM-side.

    NOTE for pair loops: this folds BOTH operands' norms per call — in a
    join that scores q·n pairs, hoist each side's norm to a per-ROW
    column first (:func:`l2_norm`) and use :func:`cosine_pair`; same
    arithmetic bit-for-bit, 3× fewer array folds on the quadratic stage
    (measured: mine_bitext warm 15.7s → 6.6s)."""
    return cosine_pair(a, b, l2_norm(a), l2_norm(b))


def l2_norm(col: Column) -> Column:
    """``||x||`` — hoist out of pair loops (see :func:`cosine_sim`)."""
    return F.sqrt(F.aggregate(col, F.lit(0.0), lambda acc, v: acc + v * v))


def cosine_pair(a: Column, b: Column, na: Column, nb: Column) -> Column:
    """Cosine with PRE-HOISTED norms: dot(a,b)/(na·nb). The fold and the
    division order match :func:`cosine_sim` exactly, so swapping between
    them never changes a value — only where the norm folds execute."""
    dot = F.aggregate(F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, v: acc + v)
    return dot / (na * nb)


def embedding_near_duplicates(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    threshold: float = 0.95,
    candidate_df: DataFrame | None = None,
    exact: bool = False,
    num_planes: int = 16,
    num_bands: int = 8,
    seed: int = 42,
) -> DataFrame:
    """Embedding near-dup pairs with cosine ≥ threshold.

    DEFAULT is the scale-safe path: banded sign-LSH (OR-construction, the
    same shape as the MinHash band trick) — ``num_bands`` independent
    plane sets of ``num_planes`` hyperplanes each; two vectors are
    candidates if they share a bucket in ANY band, then every candidate is
    verified against the exact cosine threshold. The O(n²) cross-join
    never materializes, so the same plan runs at 100 TB.

    Why banded: a single plane set is a pure AND-construction — recall at
    the target threshold decays as p(θ)^planes, and the only way to keep
    buckets small at corpus scale (more planes) destroys recall. Banding
    decouples the two: per-band bucket count is 2^num_planes (65 536 at
    the default 16 — in-bucket pair work stays near-linear as the corpus
    grows), while recall is 1-(1-p^r)^b over bands. With p = 1-θ/π:
    cosine 0.95 → p≈0.90, per-band hit 0.90^16≈0.18, 8 bands → ~80 %
    recall; raise ``num_bands`` to 16 for ~96 %. At larger corpora scale
    ``num_planes`` up (each +1 halves expected bucket occupancy) and
    compensate recall with more bands.

    The bands' (id, band, bucket) entries come from
    ``similarity.sign_lsh_band_entries`` and pair up in
    :func:`_bucket_pairs`, the candidate stage of the minhash operators,
    uncapped: one checkpoint job at call time, then every bucket expands
    to all its pairs.

    Pass ``exact=True`` for the exhaustive cross-join baseline
    (oracle-verifiable at small n), or supply your own ``candidate_df`` of
    (id_a, id_b)."""
    v = df.select(F.col(id_col).alias("id"), F.col(vec_col).cast("array<double>").alias("v"))
    if candidate_df is None and not exact:
        from truthound_spark.pipeline.similarity import (
            _vector_dim,
            sign_lsh_band_entries,
        )

        entries = sign_lsh_band_entries(
            v, _vector_dim(df, vec_col), num_planes, num_bands, seed
        )
        candidate_df = _bucket_pairs(entries, None)[0].dropDuplicates()
    vn = v.withColumn("__n", l2_norm(F.col("v")))  # norm once per id, not per pair
    if candidate_df is not None:
        a = (
            vn.withColumnRenamed("id", "id_a")
            .withColumnRenamed("v", "v_a")
            .withColumnRenamed("__n", "n_a")
        )
        b = (
            vn.withColumnRenamed("id", "id_b")
            .withColumnRenamed("v", "v_b")
            .withColumnRenamed("__n", "n_b")
        )
        joined = candidate_df.join(a, "id_a").join(b, "id_b")
        return joined.select(
            "id_a",
            "id_b",
            cosine_pair(
                F.col("v_a"), F.col("v_b"), F.col("n_a"), F.col("n_b")
            ).alias("cosine"),
        ).filter(F.col("cosine") >= threshold)
    a = vn.alias("a")
    b = vn.alias("b")
    return (
        a.join(b, F.col("a.id") < F.col("b.id"))
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            cosine_pair(
                F.col("a.v"), F.col("b.v"), F.col("a.__n"), F.col("b.__n")
            ).alias("cosine"),
        )
        .filter(F.col("cosine") >= threshold)
    )


def semantic_dedup(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    num_cells: int = 16,
    threshold: float = 0.95,
    centroids: DataFrame | None = None,
    checkpoint: bool = True,
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023,
    arXiv:2303.09540): cluster the embedding space coarsely, then remove
    within-cluster semantic near-duplicates, keeping the lowest-id
    representative of each near-dup neighborhood.

    A document is DROPPED when some lower-id document in the SAME cell has
    cosine ≥ threshold with it — the greedy keep-first rule, evaluated
    set-at-a-time: drops = distinct id_b of qualifying (id_a < id_b)
    pairs. Deterministic, so a SQL oracle can replay it exactly.

    Clustering: by default the ``num_cells`` lowest-id vectors act as
    closed-form centroids (same deterministic construction as
    ``ivf_seeded_topk``); pass ``centroids`` — any (cell, cv) frame, e.g.
    from :func:`truthound_spark.pipeline.clustering.kmeans` — for
    production-quality cells. Assignment is a broadcast cross join +
    per-id top-1 window (WindowGroupLimit collapses the k× amplification
    map-side before any shuffle), in the l2 dot-product fold form whose
    IEEE result is engine-reproducible.

    Scale: the O(n²) pairing never materializes — only in-cell pairs do,
    and cells partition the corpus (shuffle key = cell). In-cell work is
    O(Σ cell²): scale ``num_cells`` with the corpus (SemDeDup itself uses
    k = 11k cells for LAION) so expected cell occupancy stays bounded;
    with k-means cells the occupancy is balanced by construction.

    Returns one row per input vector: (id, cell, keep) — filter on keep
    for the surviving corpus.
    """
    from pyspark.sql import Window

    from truthound_spark.pipeline.similarity import _nearest_cell_pairs

    v = df.select(
        F.col(id_col).cast("long").alias("id"),
        F.col(vec_col).cast("array<double>").alias("v"),
    )
    if centroids is None:
        # the num_cells LOWEST-ID vectors, not filter(id < num_cells):
        # with an id space that doesn't start near 0 (snowflake ids) the
        # latter is silently EMPTY, the cross join produces nothing, and
        # "filter on keep" would empty the corpus. TakeOrderedAndProject
        # keeps this a cheap top-k, never a global sort.
        centroids = v.orderBy("id").limit(num_cells).select(
            F.col("id").alias("cell"), F.col("v").alias("cv")
        )
        if centroids.limit(1).count() == 0:
            raise ValueError(
                "semantic_dedup: input has no vectors to seed default "
                "centroids from; pass an explicit `centroids` frame"
            )
    w = Window.partitionBy("id").orderBy("d2", "cell")
    # checkpoint: the assignment feeds BOTH pairing sides and the final
    # keep join — without it Spark re-runs the broadcast+window subtree
    # three times (three full corpus scans at scale)
    # the vector norm is precomputed INTO the checkpoint (same sequential
    # fold as cosine_sim's denominator, so values are bit-identical to
    # computing it per pair) — the in-cell pairing then folds only the
    # cross dot product: 1 fold per pair instead of 3
    norm = F.sqrt(
        F.aggregate(F.col("v"), F.lit(0.0), lambda acc, x: acc + x * x)
    )
    apairs, ad2 = _nearest_cell_pairs(v, centroids, "v")
    assigned = (
        apairs.select("id", "v", "cell", ad2.alias("d2"))
        .withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select("id", "v", "cell", norm.alias("nv"))
    )
    if checkpoint:
        assigned = assigned.localCheckpoint(eager=True)
    a = assigned.select(
        F.col("cell"), F.col("id").alias("id_a"), F.col("v").alias("v_a"),
        F.col("nv").alias("n_a"),
    )
    b = assigned.select(
        F.col("cell"), F.col("id").alias("id_b"), F.col("v").alias("v_b"),
        F.col("nv").alias("n_b"),
    )
    dot = F.aggregate(
        F.zip_with(F.col("v_a"), F.col("v_b"), lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    drops = (
        a.join(b, "cell")
        .filter(F.col("id_a") < F.col("id_b"))
        .filter(dot / (F.col("n_a") * F.col("n_b")) >= threshold)
        .select(F.col("id_b").alias("id"))
        .dropDuplicates()
        .withColumn("__drop", F.lit(True))
    )
    return (
        assigned.join(drops, "id", "left")
        .select("id", "cell", F.coalesce(~F.col("__drop"), F.lit(True)).alias("keep"))
    )


# ---------------------------------------------------------------------------
# duplicate-cluster resolution (connected components)
# ---------------------------------------------------------------------------


def connected_components(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iterations: int = 25,
    driver_threshold: int = 500_000,
) -> DataFrame:
    """Resolve a near-duplicate pair list into duplicate CLUSTERS:
    (id, cluster_id) where cluster_id is the minimum member id of the
    connected component (reference surface: the dedup "groups" concept of
    exact_duplicates, generalized to transitive near-dup closure).

    Distributed min-label propagation with pointer jumping: each round
    (a) every node takes the min label over itself and its neighbors
    (one shuffle: edges ⋈ labels, groupBy node), then (b) labels jump
    through themselves (labels ⋈ labels on label==node) so a chain of
    length L resolves in O(log L) rounds, not O(L). Each round ends in
    ``localCheckpoint`` — lineage stays constant-depth, the classic
    iterative-Spark requirement. Convergence is detected by carrying the
    previous label through the round and probing the checkpointed result
    with ``isEmpty`` (early-exit scan of longs — no extra join job); the
    loop raises if max_iterations rounds don't converge (inconclusive is
    NOT silently reported as converged).

    Small-graph fast path: when the (already LSH-filtered, verified) dup
    graph has ≤ ``driver_threshold`` distinct directed edges — counted by
    observing the job that checkpoints the edge table, not by a second
    count job — the edge LIST — never
    the documents — collects to the driver VIA ARROW (``toArrow()``: two
    int64 numpy columns, ~16 B/edge → 500k edges ≈ 8 MB on the wire, no
    Row-object materialization, and no session-conf toggling — safe under
    concurrent SparkSession use) and a union-find labels it in one pass.
    Real driver cost at the default ceiling: ~8 MB arrays + a ≤1M-entry
    Python parent dict (~50-80 MB) + ~1 s of GIL-bound loop — bounded and
    documented, which is why the default is 500k and not higher; raise
    ``driver_threshold`` explicitly only on drivers sized for it.
    Iterative rounds cost ~4 Spark jobs each; on a few-thousand-edge
    graph that's seconds of pure scheduling for work a driver loop does
    in milliseconds. Identical output by construction (min-member
    labels); ``driver_threshold=0`` forces the distributed path — the
    equivalence is pinned by tests on both.

    At 100 TB: rounds shuffle only (node, label) longs — never documents;
    duplicate clusters are typically tiny-diameter, so 3-4 rounds suffice.
    """
    # both edge directions from ONE pass over the (usually unpersisted)
    # pair relation: the previous union-of-swapped-selves form referenced
    # the pairs subtree twice, so the whole upstream pair pipeline (the
    # LSH verify join, when the caller is dedup_clusters) EXECUTED twice
    # inside the checkpoint job — at every scale, not just the bench
    # (r14, guide §2.4 "don't compute things you throw away"). explode
    # emits (u,v) and (v,u) per pair row in the same scan; the distinct
    # edge set is unchanged.
    edges = (
        pairs.select(
            F.explode(
                F.array(
                    F.struct(
                        F.col(id_a).cast("long").alias("u"),
                        F.col(id_b).cast("long").alias("v"),
                    ),
                    F.struct(
                        F.col(id_b).cast("long").alias("u"),
                        F.col(id_a).cast("long").alias("v"),
                    ),
                )
            ).alias("e")
        )
        .select("e.u", "e.v")
        .dropDuplicates()
    )
    # the edge count that gates the driver path is observed on the
    # checkpoint job itself, not counted by a second one
    size = Observation()
    edges = edges.observe(size, F.count(F.lit(1)).alias("n")).localCheckpoint(
        eager=True
    )
    # Size the iterative stage to the graph, not the global shuffle
    # setting: each round is 2 joins + a checkpoint over (long,long)
    # tables, so a near-dup graph of a few thousand edges on 32 partitions
    # pays ~100 empty-task launches per round. ~100k edges/partition keeps
    # partitions MB-sized; the configured shuffle parallelism stays the
    # ceiling so cluster-scale graphs keep cluster-scale parallelism.
    n_edges = int(size.get["n"])
    if n_edges <= driver_threshold:
        # DataFrame.toArrow() (Spark 4) always ships Arrow batches —
        # no session conf involved, so nothing to toggle and no race
        # with concurrent work sharing the SparkSession (ADVICE r4 /
        # review r5): two int64 columns, ~16 B/edge on the wire
        tbl = edges.toArrow()
        us = tbl.column("u").to_numpy()
        vs = tbl.column("v").to_numpy()
        parent: dict[int, int] = {}

        def find(x: int) -> int:
            root = x
            while parent[root] != root:
                root = parent[root]
            while parent[x] != root:  # path compression
                parent[x], x = root, parent[x]
            return root

        for u, v in zip(us, vs):
            u, v = int(u), int(v)
            if u not in parent:
                parent[u] = u
            if v not in parent:
                parent[v] = v
            ru, rv = find(u), find(v)
            if ru != rv:
                # union by MIN id so the root IS the canonical label
                if ru < rv:
                    parent[rv] = ru
                else:
                    parent[ru] = rv
        # ship the labels back the same way the edges came in — as Arrow
        # (Spark 4 createDataFrame accepts a pyarrow Table directly, no
        # session conf): two int64 buffers instead of a pickled tuple per
        # node. Measured 1.4× at the 500k-edge ceiling (2.5 → 1.8 s,
        # alternating A/B); same rows, same schema.
        import numpy as np
        import pyarrow as pa

        ids = np.fromiter(parent.keys(), dtype=np.int64, count=len(parent))
        roots = np.fromiter(
            (find(int(x)) for x in ids), dtype=np.int64, count=len(ids)
        )
        return pairs.sparkSession.createDataFrame(
            pa.table({"id": ids, "cluster_id": roots})
        )
    ceiling = int(edges.sparkSession.conf.get("spark.sql.shuffle.partitions", "200"))
    p = max(1, min(ceiling, n_edges // 100_000 + 1))
    edges = edges.repartition(p, "v").localCheckpoint(eager=True)
    lab = (
        edges.groupBy("u")
        .agg(F.least(F.min("v"), F.first("u")).alias("label"))
        .select(F.col("u").alias("node"), "label")
        .repartition(p, "node")
        .localCheckpoint(eager=True)
    )
    for _ in range(max_iterations):
        nbr = (
            edges.join(lab, edges["v"] == lab["node"])
            .groupBy("u")
            .agg(F.min("label").alias("nbr_label"))
        )
        stepped = (
            lab.join(nbr, lab["node"] == nbr["u"], "left")
            .select(
                "node",
                F.col("label").alias("old"),
                F.least(
                    F.col("label"), F.coalesce(F.col("nbr_label"), F.col("label"))
                ).alias("label"),
            )
        )
        jumped = (
            stepped.alias("x")
            .join(
                stepped.select(
                    F.col("node").alias("jnode"), F.col("label").alias("jlabel")
                ),
                F.col("x.label") == F.col("jnode"),
                "left",
            )
            .select(
                F.col("x.node").alias("node"),
                F.col("x.old").alias("old"),
                F.least(F.col("x.label"), F.coalesce(F.col("jlabel"), F.col("x.label"))).alias(
                    "label"
                ),
            )
            .localCheckpoint(eager=True)
        )
        lab = jumped.select("node", "label")
        if jumped.filter(F.col("label") != F.col("old")).isEmpty():
            return lab.select(F.col("node").alias("id"), F.col("label").alias("cluster_id"))
    raise RuntimeError(
        f"connected_components did not converge in {max_iterations} rounds "
        "(pathological graph diameter); raise max_iterations"
    )


def dedup_clusters(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.7,
    num_hashes: int = 64,
    bands: int = 32,
    shingle_n: int = 3,
    max_bucket_size: int | None = DEFAULT_MAX_BUCKET_SIZE,
    shingle_table: str | None = "auto",
) -> DataFrame:
    """End-to-end fuzzy-dedup resolution: MinHash-LSH pairs ≥ threshold →
    connected components → (doc_id, cluster_id, is_canonical). Keep rows
    with ``is_canonical`` to retain exactly one representative (the min
    doc id) per transitive near-duplicate cluster — the standard
    large-corpus fuzzy-dedup final step. Docs in no pair keep themselves
    as singleton canonical clusters (left join, not dropped).
    ``shingle_table`` passes through to the pair stage ("auto" probes
    for a stored layout of this exact corpus — see
    :func:`find_shingle_layout`)."""
    pairs = minhash_dedup_pairs(
        df, text_col, id_col, threshold, num_hashes, bands, shingle_n,
        max_bucket_size=max_bucket_size, shingle_table=shingle_table,
    )
    comp = connected_components(pairs)
    ids = df.select(F.col(id_col).cast("long").alias("id"))
    out = ids.join(comp, "id", "left").select(
        F.col("id").alias(id_col),
        F.coalesce(F.col("cluster_id"), F.col("id")).alias("cluster_id"),
    )
    return out.withColumn("is_canonical", F.col(id_col) == F.col("cluster_id"))


def dedup_keep_best(
    df: DataFrame,
    score_col: str | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.7,
    num_hashes: int = 64,
    bands: int = 32,
    max_bucket_size: int | None = DEFAULT_MAX_BUCKET_SIZE,
    shingle_table: str | None = "auto",
) -> DataFrame:
    """Fuzzy dedup with a QUALITY-AWARE canonical policy: each near-dup
    cluster keeps its highest-scoring member (ties → lowest id) instead
    of :func:`dedup_clusters`' keep-lowest-id — at corpus scale the
    near-dup group often spans a clean original and mangled re-crawls,
    and keep-first throws away the clean one roughly half the time.

    ``score_col`` names a precomputed per-doc score; when omitted, the
    composite heuristic quality score (6-dp rounded — deterministic,
    engine-reproducible ranking) is computed in the same pass. Cluster
    resolution is the certified :func:`dedup_clusters` path unchanged;
    the policy adds ONE window rank per cluster over (score desc, id) —
    shuffle key is the cluster label, payload (id, score) pairs.

    Returns (id, cluster_id, score, keep)."""
    clusters = dedup_clusters(
        df, text_col, id_col, threshold=threshold, num_hashes=num_hashes,
        bands=bands, max_bucket_size=max_bucket_size,
        shingle_table=shingle_table,
    )
    if score_col is None:
        from truthound_spark.pipeline.text import quality_score

        scored = quality_score(df, text_col).select(
            F.col(id_col).cast("long").alias("id"),
            F.round("quality_score", 6).alias("__score"),
        )
    else:
        scored = df.select(
            F.col(id_col).cast("long").alias("id"),
            F.col(score_col).cast("double").alias("__score"),
        )
    from pyspark.sql import Window

    joined = clusters.select(
        F.col(id_col).cast("long").alias("id"), "cluster_id"
    ).join(scored, "id")
    w = Window.partitionBy("cluster_id").orderBy(F.desc("__score"), "id")
    return joined.withColumn(
        "keep", (F.row_number().over(w) == 1).cast("boolean")
    ).select("id", "cluster_id", F.col("__score").alias("score"), "keep")


def incremental_dedup(
    new_df: DataFrame,
    base_df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.7,
    num_hashes: int = 64,
    bands: int = 32,
    shingle_n: int = 3,
    max_bucket_size: int | None = DEFAULT_MAX_BUCKET_SIZE,
    broadcast_pairs_budget: int = DEFAULT_PAIR_BROADCAST_BUDGET,
    base_shingle_table: str | None = "auto",
    shingle_broadcast_budget: int = DEFAULT_SHINGLE_BROADCAST_BUDGET,
) -> DataFrame:
    """Cross-snapshot deduplication: which NEW documents already exist in
    the BASE corpus — the daily-crawl-increment primitive (dedup the
    delta against 100 TB of history without re-clustering the history).

    Two passes, both scale-shaped:

    * **exact** — fingerprint equi-join new×base (shuffle keys are 32-char
      hashes, never documents); match = lowest base id sharing the
      fingerprint.
    * **near** — both sides shingle once into a side-tagged union, ONE
      banded-LSH pass over the union yields candidates, kept only when
      the two ids straddle sides, oriented (new id, base id), then
      verified with exact shingle-set Jaccard ≥ threshold by
      :func:`_verify_pairs`, the verify of ``minhash_dedup_pairs``, with
      the union as its store. New-vs-new duplicates are deliberately
      NOT reported — run ``dedup_clusters`` on the delta for those.

    Ids must be globally unique across both snapshots (they share an id
    space in any real pipeline). ``base_shingle_table`` (written once by
    :func:`write_shingle_layout`, bucketed by id) removes the base
    re-SHINGLE per increment and un-pins the union from executor memory
    (no ``localCheckpoint``) — but the union still re-BANDS the whole
    corpus every run, which dominates (measured 105.8 s → 83.6 s at
    500k base / 5k delta). The real production path is
    :func:`write_dedup_index` + :func:`incremental_dedup_indexed`:
    increments run in DELTA-sized time (6.4 s warm on the same shape,
    SCALING.md r12) against the stored three-table index. Keep THIS
    function for one-shot comparisons and as the oracle-twin reference.
    Candidate attaches are broadcast only under
    ``broadcast_pairs_budget`` (measured), else shuffle-hash on id. The
    union is the hashed shingle store of both the signature stage and the
    verify; its payload size, observed on its checkpoint job inline, or
    on the candidate checkpoint job through the signature input with a
    stored ``base_shingle_table``, gates the verify against
    ``shingle_broadcast_budget`` — see ``minhash_dedup_pairs``.

    Returns one row per new document: (id, dup_of, match_kind) with
    match_kind ∈ ('exact', 'near', NULL); exact wins over near, and
    dup_of is the minimum matching base id. Keep rows with NULL
    match_kind."""
    new_docs = new_df.select(
        F.col(id_col).cast("long").alias("id"), F.col(text_col).alias("__t")
    )
    base_docs = base_df.select(
        F.col(id_col).cast("long").alias("id"), F.col(text_col).alias("__t")
    )
    # exact pass
    nfp = new_docs.select("id", content_fingerprint(F.col("__t")).alias("fp"))
    bfp = base_docs.select(
        F.col("id").alias("base_id"), content_fingerprint(F.col("__t")).alias("fp")
    )
    exact = (
        nfp.join(bfp, "fp")
        .groupBy("id")
        .agg(F.min("base_id").alias("exact_of"))
    )
    # near pass: one shingle+hash+signature+banding run over the tagged
    # union (the hashed shingle store — see _hashed_shingle_arrays)
    sh_new = _hashed_shingle_arrays(new_docs, "__t", "id", shingle_n)
    if base_shingle_table == "auto":
        base_shingle_table = find_shingle_layout(
            base_df, text_col, id_col, shingle_n
        )
    sh_size = Observation()
    if base_shingle_table is not None:
        # stored-layout mode: base shingles are a bucketed table scan
        # (cheap to re-read, fault-tolerant), only the small delta is
        # persisted (tracked — release_dedup_caches) — the union needs no
        # localCheckpoint, so nothing is pinned in executor memory
        # without lineage. The union is measured on the signature input,
        # so the candidate checkpoint job measures it
        _check_shingle_meta(
            new_df.sparkSession, base_shingle_table, shingle_n
        )
        sh_base = new_df.sparkSession.table(base_shingle_table).select("id", "sh")
        sh = (
            _persist_tracked(sh_new)
            .withColumn("side", F.lit(1))
            .unionByName(sh_base.withColumn("side", F.lit(0)))
        )
        sig_input = sh.observe(sh_size, *_payload_measures("sh"))
    else:
        sh_base = _hashed_shingle_arrays(base_docs, "__t", "id", shingle_n)
        # side tag rides INSIDE the checkpointed union: a separate `sides`
        # relation built from sh_new/sh_base would re-run both shingle
        # pipelines (and their scans) — r8 lazy-reuse audit. The
        # checkpoint job also measures the verify store (the union), by
        # observation
        sh = sig_input = (
            sh_new.withColumn("side", F.lit(1))
            .unionByName(sh_base.withColumn("side", F.lit(0)))
            .observe(sh_size, *_payload_measures("sh"))
            .localCheckpoint(eager=True)
        )
    sides = sh.select("id", "side")
    # orient candidates as (new id, base id); candidates are bare id
    # pairs — broadcast into the side lookup only under the budget. Their
    # bound, measured on the candidate checkpoint, bounds both those rows
    # and the cross-side pairs the verify sees
    cands, n_cands = _lsh_pair_rows(sig_input, num_hashes, bands, max_bucket_size)
    measures = sh_size.get
    sa = sides.select(F.col("id").alias("id_a"), F.col("side").alias("side_a"))
    sb = sides.select(F.col("id").alias("id_b"), F.col("side").alias("side_b"))
    cross = (
        _attach_pairs(sa, cands, "id_a", n_cands, broadcast_pairs_budget)
        .join(sb, "id_b")
        .filter(F.col("side_a") != F.col("side_b"))
        .select(
            F.when(F.col("side_a") == 1, F.col("id_a")).otherwise(F.col("id_b")).alias("id_a"),
            F.when(F.col("side_a") == 1, F.col("id_b")).otherwise(F.col("id_a")).alias("id_b"),
        )
    )
    near = (
        _verify_pairs(
            sh, cross, _payload_bytes(measures, 8),
            broadcast_pairs_budget, shingle_broadcast_budget,
            n_pairs=n_cands, a_rows=int(measures["n"]),
        )
        .filter(F.col("jaccard") >= threshold)
        .groupBy(F.col("id_a").alias("id"))
        .agg(F.min("id_b").alias("near_of"))
    )
    return (
        new_docs.select("id")
        .join(exact, "id", "left")
        .join(near, "id", "left")
        .select(
            "id",
            F.coalesce("exact_of", "near_of").alias("dup_of"),
            F.when(F.col("exact_of").isNotNull(), F.lit("exact"))
            .when(F.col("near_of").isNotNull(), F.lit("near"))
            .alias("match_kind"),
        )
    )


# ---------------------------------------------------------------------------
# decontamination (train/test n-gram overlap)
# ---------------------------------------------------------------------------


def write_dedup_index(
    df: DataFrame,
    prefix: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 64,
    bands: int = 32,
    shingle_n: int = 3,
    max_bucket_size: int | None = DEFAULT_MAX_BUCKET_SIZE,
    buckets: int = 64,
    database: str = "truthound_layout",
    location: str | None = None,
) -> dict[str, str]:
    """Index a base corpus ONCE so every later increment dedups against
    it in DELTA-sized time (``incremental_dedup_indexed``).

    ``incremental_dedup`` re-shingles AND re-bands the whole union every
    run — measured 105.8 s per 5k-doc delta against a 500k-doc base, of
    which the base re-shingle a stored shingle table removes is only
    ~20 s: the dominant cost is re-banding the full corpus, inherent to
    the union design. This writes the THREE artifacts that make the
    increment independent of base size, each bucketed by its join key:

    * ``<prefix>_fingerprints`` ``(id, fp)`` bucketBy(fp) — the exact
      pass joins delta fingerprints against it co-located;
    * ``<prefix>_shingles`` ``(id, sh)`` bucketBy(id) — the Jaccard
      verification pulls ONLY candidate base docs' arrays from it;
    * ``<prefix>_lsh`` ``(id, band, bucket)`` bucketBy(band, bucket) —
      delta band entries probe it co-located; candidates are (delta ×
      matching-bucket-members), never base × base.

    ``max_bucket_size`` caps each stored (band, bucket)'s member list
    (lowest ids kept) at WRITE time — the index-side skew guard: a
    boilerplate bucket with 1M base members would otherwise emit 1M
    candidates per matching delta doc. Recall trade (documented, same
    family as the live guard's star degradation): a delta doc whose ONLY
    near-duplicates were capped out of a monster bucket in EVERY band it
    shares is missed; ``None`` = exact. Banding/shingle config and the
    cap ride in table properties and are enforced at query time — an
    index probed under different parameters would silently miss
    everything. The stored doc count, counted on the shingle table's
    write job, rides with them: the probe sizes its verify stage from it.
    Returns {"fingerprints", "shingles", "lsh"} table names.
    """
    import json as _json

    from truthound_spark.layout import write_bucketed

    if bands > num_hashes or num_hashes % bands != 0:
        raise ValueError(
            f"bands must divide num_hashes (got {num_hashes}/{bands})"
        )
    docs = df.select(F.col(id_col).cast("long").alias("id"), F.col(text_col).alias("__t"))
    fp = docs.select("id", content_fingerprint(F.col("__t")).alias("fp"))
    t_fp = write_bucketed(
        fp, f"{prefix}_fingerprints", "fp", buckets=buckets,
        database=database, location=location,
    )
    # the write job also counts the stored shingle rows: the probe's
    # verify stage scans that table whole, and sizes itself from the count
    n_docs = Observation()
    sh = _hashed_shingle_arrays(docs, "__t", "id", shingle_n).observe(
        n_docs, F.count(F.lit(1)).alias("n")
    )
    t_sh = write_bucketed(
        sh, f"{prefix}_shingles", "id", buckets=buckets,
        database=database, location=location,
    )
    sig = _signatures(df.sparkSession.table(t_sh), num_hashes)
    entries = _band_entries(sig, num_hashes, bands)
    if max_bucket_size is not None:
        from pyspark.sql import Window

        w = Window.partitionBy("band", "bucket").orderBy("id")
        entries = (
            entries.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") <= max_bucket_size)
            .drop("__rn")
        )
    meta = _json.dumps(
        {
            "version": DEDUP_INDEX_VERSION,
            "num_hashes": num_hashes,
            "bands": bands,
            "shingle_n": shingle_n,
            "max_bucket_size": max_bucket_size,
            "docs": int(n_docs.get["n"]),
        }
    )
    # meta rides through write_bucketed into TBLPROPERTIES AND the
    # on-disk sidecar, so a fresh session recovers the index with its
    # banding config intact via layout.attach_layout_database (r13)
    t_lsh = write_bucketed(
        entries, f"{prefix}_lsh", ["band", "bucket"], buckets=buckets,
        database=database, location=location,
        properties={"truthound.dedup.meta": meta},
    )
    return {"fingerprints": t_fp, "shingles": t_sh, "lsh": t_lsh}


def incremental_dedup_indexed(
    new_df: DataFrame,
    index: dict[str, str] | str,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.7,
    max_bucket_size: int | None = DEFAULT_MAX_BUCKET_SIZE,
    broadcast_pairs_budget: int = DEFAULT_PAIR_BROADCAST_BUDGET,
    database: str = "truthound_layout",
    location: str | None = None,
) -> DataFrame:
    """Which NEW documents already exist in an INDEXED base corpus —
    ``incremental_dedup`` semantics at DELTA-sized cost.

    ``index`` is the dict (or the prefix string) from
    :func:`write_dedup_index`; banding/shingle parameters come FROM THE
    INDEX's recorded metadata (probing under different parameters would
    silently miss every near-duplicate, so they are not arguments).
    Every stage touches the base only through its bucketed artifacts:
    exact pass = delta fingerprints joined against the fp table; near
    pass = the delta's per-(band, bucket) member lists probe the lsh
    table on (band, bucket), candidates are (stored bucket member × delta
    doc) — base × base pairs never exist — and verification
    (:func:`_verify_pairs`, the same primitive as ``minhash_dedup_pairs``)
    reads each candidate base doc's array from the id-bucketed shingle
    table once, against the checkpointed delta shingles as the broadcast
    store; the delta's payload size, observed on its checkpoint job, is
    the store's gate against ``DEFAULT_SHINGLE_BROADCAST_BUDGET``. The
    candidate rows, counted on the job that checkpoints them, bound the
    pairs. The verify stage scans the whole bucketed shingle table, so it
    is sized from that bound and the base's doc count the index recorded:
    one task per ``VERIFY_PAIRS_PER_TASK`` of the larger (2^16, where a
    task's kernel work at 7 µs a pair is twice its ~0.24 s fixed start-up
    cost). A probe of a small base runs one Python task instead of one per
    bucket; a large base, or an index that recorded no count, keeps one
    task per bucket. Exact
    and near matches merge with the delta's ids in one grouping. Returns
    (id, dup_of, match_kind) exactly like ``incremental_dedup``; recall
    differences exist only where a bucket cap engaged.
    ``max_bucket_size`` here caps the DELTA side's band
    entries at query time (lowest ids kept) — the mirror of the index's
    write-time cap: candidate count per (band, bucket) is then bounded
    by delta-cap × index-cap even when a boilerplate-heavy batch lands
    in a boilerplate-heavy bucket. ``None`` = exact (the oracle mode).
    The probe is a join of delta × stored members, not a self-join, so it
    keeps its own (band, bucket) join rather than :func:`_bucket_pairs`.

    ``location`` (r13): the index database's storage location. When the
    prefix-string form names tables a FRESH session's catalog no longer
    knows (no durable metastore — the r12 index was session-bound), the
    three member tables are recovered from their on-disk layout
    sidecars (``layout.attach_layout_database``) before probing, so a
    restarted pipeline keeps its delta-sized increments without
    re-indexing the base.
    """
    import json as _json

    from truthound_spark.layout import _bucket_spec

    spark = new_df.sparkSession
    if isinstance(index, str):
        index = {
            "fingerprints": f"{database}.{index}_fingerprints",
            "shingles": f"{database}.{index}_shingles",
            "lsh": f"{database}.{index}_lsh",
        }
    if location is not None and not all(
        spark.catalog.tableExists(t) for t in index.values()
    ):
        from truthound_spark.layout import attach_layout_database

        attach_layout_database(spark, location, database=database)
        missing = [t for t in index.values() if not spark.catalog.tableExists(t)]
        if missing:
            raise ValueError(
                f"dedup index tables {missing} not found in the catalog or "
                f"recoverable from sidecars under {location!r}"
            )
    rows = spark.sql(
        f"SHOW TBLPROPERTIES {index['lsh']} ('truthound.dedup.meta')"
    ).collect()
    if not rows or "does not have property" in str(rows[0]):
        raise ValueError(
            f"{index['lsh']!r} carries no truthound.dedup.meta — not a "
            "dedup index (write it with write_dedup_index)"
        )
    meta = _json.loads(rows[0]["value"])
    stored_version = int(meta.get("version", 1))
    if stored_version != DEDUP_INDEX_VERSION:
        # stored bucket values were produced by a DIFFERENT banding
        # function than the live one about to probe them — probing would
        # silently miss every near-duplicate, so fail loudly instead
        raise ValueError(
            f"dedup index {index['lsh']!r} was written with banding "
            f"version {stored_version}, but this engine bands with "
            f"version {DEDUP_INDEX_VERSION} — stored and live bucket "
            "values would never match. Re-index the base corpus with "
            "write_dedup_index."
        )
    num_hashes, bands, shingle_n = (
        int(meta["num_hashes"]),
        int(meta["bands"]),
        int(meta["shingle_n"]),
    )

    new_docs = new_df.select(
        F.col(id_col).cast("long").alias("id"), F.col(text_col).alias("__t")
    )
    # exact pass: delta fingerprints vs the fp-bucketed store
    nfp = new_docs.select("id", content_fingerprint(F.col("__t")).alias("fp"))
    bfp = spark.table(index["fingerprints"]).select(
        F.col("id").alias("base_id"), "fp"
    )
    no_match = F.lit(None).cast("long")
    exact = nfp.join(bfp, "fp").select(
        "id", F.col("base_id").alias("exact_of"), no_match.alias("near_of")
    )

    # near pass: delta-only shingles, checkpointed once; the checkpoint
    # job also measures the verify store's payload size, by observation
    sh_size = Observation()
    sh_new = (
        _hashed_shingle_arrays(new_docs, "__t", "id", shingle_n)
        .observe(sh_size, *_payload_measures("sh"))
        .localCheckpoint(eager=True)
    )
    # the delta's member ids per (band, bucket), lowest ``max_bucket_size``
    # kept, grouped in the lsh table's bucket layout: the probe join below
    # reads both sides in place (no exchange, no broadcast)
    entries = _band_entries(_signatures(sh_new, num_hashes), num_hashes, bands)
    lsh_spec = _bucket_spec(spark, index["lsh"])
    if lsh_spec is not None and lsh_spec[1] == ["band", "bucket"]:
        entries = entries.repartition(lsh_spec[0], "band", "bucket")
    ids = F.sort_array(F.collect_list("id"))
    if max_bucket_size is not None:
        ids = F.slice(ids, 1, max_bucket_size)
    e_new = entries.groupBy("band", "bucket").agg(ids.alias("ids"))
    idx = spark.table(index["lsh"]).select(
        "band", "bucket", F.col("id").alias("id_a")
    )
    # candidates are (stored base doc, delta doc), checkpointed: their
    # job runs the signature and banding stages first, as the
    # self-dedup's candidate checkpoint does, so both calls compile the
    # same classes for them. The delta is the verify store
    # (delta-sized), and each candidate base doc's array is read from
    # the id-bucketed shingle table once (see _verify_pairs); the pairs
    # are laid out in that table's bucket layout, so the table is not
    # shuffled. The same job counts the candidate rows, an upper bound on
    # the pairs that, with the base's recorded doc count, sizes the verify
    # stage
    n_cands = Observation()
    pairs = (
        idx.join(e_new.hint("shuffle_hash"), ["band", "bucket"])
        .select("id_a", F.explode("ids").alias("id_b"))
        .observe(n_cands, F.count(F.lit(1)).alias("n"))
        .localCheckpoint(eager=True)
    )
    sh_spec = _bucket_spec(spark, index["shingles"])
    if sh_spec is not None and sh_spec[1] == ["id"]:
        pairs = pairs.repartition(sh_spec[0], "id_a")
    near = _verify_pairs(
        sh_new,
        pairs,
        _payload_bytes(sh_size.get, 8),
        broadcast_pairs_budget,
        DEFAULT_SHINGLE_BROADCAST_BUDGET,
        a_side=spark.table(index["shingles"]).select("id", "sh"),
        n_pairs=int(n_cands.get["n"]),
        a_rows=meta.get("docs"),
    ).filter(F.col("jaccard") >= threshold)
    # exact and near matches merge with the delta's ids in ONE grouping
    # (no per-pass groupBy, no left joins): each new doc gets the lowest
    # base id of either kind
    matches = (
        new_docs.select("id", no_match.alias("exact_of"), no_match.alias("near_of"))
        .unionByName(exact)
        .unionByName(
            near.select(
                F.col("id_b").alias("id"),
                no_match.alias("exact_of"),
                F.col("id_a").alias("near_of"),
            )
        )
        .groupBy("id")
        .agg(F.min("exact_of").alias("exact_of"), F.min("near_of").alias("near_of"))
    )
    return matches.select(
        "id",
        F.coalesce("exact_of", "near_of").alias("dup_of"),
        F.when(F.col("exact_of").isNotNull(), F.lit("exact"))
        .when(F.col("near_of").isNotNull(), F.lit("near"))
        .alias("match_kind"),
    )


def decontaminate(
    train: DataFrame,
    test: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    min_overlap: int = 1,
) -> DataFrame:
    """Benchmark decontamination: flag training documents sharing ≥
    ``min_overlap`` distinct word n-grams with ANY test/eval document
    (the GPT-3/PaLM-style n-gram collision rule).

    Plan: shingle both corpora once (same normalize→split→slice pipeline
    as MinHash, zero Python), distinct test n-grams form the probe set —
    at real scale the eval suite is tiny next to the training corpus, so
    Spark broadcast-joins the probe side against the train inverted index
    and the corpus is never shuffled. Returns (doc_id,
    overlap_ngrams) for contaminated train docs; anti-join the result to
    clean the corpus."""
    tr = _shingle_rows(train, text_col, id_col, n).dropDuplicates(["id", "g"])
    te = (
        _shingle_rows(test, text_col, id_col, n)
        .select("g")
        .dropDuplicates()
    )
    hits = tr.join(F.broadcast(te), "g").groupBy("id").agg(
        F.count(F.lit(1)).cast("long").alias("overlap_ngrams")
    )
    return hits.filter(F.col("overlap_ngrams") >= min_overlap).select(
        F.col("id").alias(id_col), "overlap_ngrams"
    )


def decontaminate_multi(
    train: DataFrame,
    benchmarks: dict[str, DataFrame],
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    min_overlap: int = 1,
) -> DataFrame:
    """Decontaminate against MANY benchmark suites in ONE corpus pass —
    production decontamination runs against the whole eval battery
    (MMLU + GSM8K + HumanEval + ...), and scanning the 100 TB corpus once
    per suite is the naive K-pass mistake this operator removes.

    Plan: the train corpus shingles ONCE (same pipeline as
    :func:`decontaminate`); every benchmark's distinct n-grams union with
    a benchmark tag into a single probe relation, which broadcasts
    against the train inverted index — one join, grouped by (doc,
    benchmark). Per-suite output equals running :func:`decontaminate`
    against each suite separately (pinned by tests and the oracle), at
    1/K the corpus scans.

    Returns (doc_id, benchmark, overlap_ngrams), one row per
    contaminated (train doc, suite) pair."""
    if not benchmarks:
        raise ValueError("benchmarks must contain at least one suite")
    tr = _shingle_rows(train, text_col, id_col, n).dropDuplicates(["id", "g"])
    probe = None
    for name, bdf in sorted(benchmarks.items()):
        p = (
            _shingle_rows(bdf, text_col, id_col, n)
            .select(F.lit(name).alias("benchmark"), "g")
            .dropDuplicates()
        )
        probe = p if probe is None else probe.unionByName(p)
    hits = (
        tr.join(F.broadcast(probe), "g")
        .groupBy("id", "benchmark")
        .agg(F.count(F.lit(1)).cast("long").alias("overlap_ngrams"))
    )
    return hits.filter(F.col("overlap_ngrams") >= min_overlap).select(
        F.col("id").alias(id_col), "benchmark", "overlap_ngrams"
    )


def decontaminate_bloom(
    train: DataFrame,
    test: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 8,
    min_overlap: int = 1,
    bits_per_item: int = 10,
) -> DataFrame:
    """Bloom-prescreened decontamination — the scale path when the probe
    set itself is too large to broadcast as rows (e.g. contamination
    against another large corpus, not a small eval suite).

    Plan: test n-grams fold into ONE bloom bitmap — k seeded xxhash64 bit
    positions per n-gram, OR-ed into a dense ``array<long>`` by a single
    groupBy(word)+bit_or aggregation (the bitmap is a few MB regardless of
    n-gram count; pure column math, Spark has no public bloom_filter_agg).
    The 1-row bitmap broadcasts to every train partition where the k-probe
    test prescreens n-grams map-side — the corpus is never shuffled. Only
    the tiny surviving fraction meets the true test set in an
    exact-confirm join, so bloom false positives are eliminated and the
    result is IDENTICAL to :func:`decontaminate` (same oracle).

    ``bits_per_item=10`` with k=7 probes ≈ 1% FP rate — prescreen passes
    ~1% of clean n-grams to the confirm join, which rejects them exactly.
    Bitmap size = bits_per_item·|test n-grams|/8 bytes; at ~1B probe
    n-grams (≈1.3 GB) shard the probe set instead."""
    k_probes = 7
    tr = _shingle_rows(train, text_col, id_col, n).dropDuplicates(["id", "g"])
    te = (
        _shingle_rows(test, text_col, id_col, n)
        .select("g")
        .dropDuplicates()
        .localCheckpoint(eager=True)
    )
    n_items = max(1, te.count())
    m_bits = max(64, n_items * bits_per_item)
    n_words = (m_bits + 63) // 64

    def positions(g: Column) -> list[Column]:
        return [
            F.pmod(F.xxhash64(F.lit(i), g), F.lit(m_bits)) for i in range(k_probes)
        ]

    # sparse (word, mask) contributions → bit_or per word → dense array
    # (index-ordered, zero-filled) in ONE row. shiftleft's Column form
    # takes only literal shift counts, so the variable shifts go through
    # expr over a named position column.
    contrib = (
        te.select(F.explode(F.array(*positions(F.col("g")))).alias("pos"))
        .select(
            (F.col("pos") / F.lit(64)).cast("long").alias("word"),
            F.expr("shiftleft(1L, CAST(pos % 64 AS INT))").alias("mask"),
        )
    )
    words_sparse = contrib.groupBy("word").agg(F.bit_or("mask").alias("mask"))
    spark = te.sparkSession
    dense = (
        spark.range(n_words)
        .withColumnRenamed("id", "word")
        .join(words_sparse, "word", "left")
        .select("word", F.coalesce("mask", F.lit(0).cast("long")).alias("mask"))
    )
    bloom = dense.agg(
        F.array_sort(F.collect_list(F.struct("word", "mask"))).alias("wm")
    ).select(F.transform("wm", lambda s: s["mask"]).alias("bf"))

    with_pos = tr.join(F.broadcast(bloom)).select(  # 1-row cross join: the bitmap
        "id",
        "g",
        *[p.alias(f"p{i}") for i, p in enumerate(positions(F.col("g")))],
        "bf",
    )
    probe_ok = None
    for i in range(k_probes):
        hit = F.expr(
            f"(element_at(bf, CAST(p{i} DIV 64 AS INT) + 1)"
            f" & shiftleft(1L, CAST(p{i} % 64 AS INT))) != 0"
        )
        probe_ok = hit if probe_ok is None else (probe_ok & hit)
    prescreened = with_pos.filter(probe_ok).select("id", "g")
    hits = prescreened.join(te, "g").groupBy("id").agg(
        F.count(F.lit(1)).cast("long").alias("overlap_ngrams")
    )
    return hits.filter(F.col("overlap_ngrams") >= min_overlap).select(
        F.col("id").alias(id_col), "overlap_ngrams"
    )


def decontaminate_spans(
    train: DataFrame,
    test: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 13,
) -> DataFrame:
    """SPAN-LEVEL decontamination: instead of dropping whole contaminated
    documents (``decontaminate``), surgically remove only the token spans
    covered by a test-set n-gram — the production recipe (a 13-gram
    overlap should not cost a 10k-token document).

    Matching is on NORMALIZED tokens (lowercase, alphanumerics only) so
    cosmetic differences don't hide contamination; the REBUILT text
    splices the ORIGINAL tokens, preserving everything outside covered
    spans. Plan: train docs tokenize once with positions; n-gram starts
    semi-join the (broadcast) probe n-gram set; covered positions explode
    from matched starts; kept tokens anti-join covered and re-aggregate
    in position order. Shuffle keys are (id, pos) pairs and n-gram
    strings — never full documents except the final per-doc rebuild.

    Returns one row per train doc: (id, text, removed_tokens,
    total_tokens) — text == original (modulo whitespace collapse) when
    removed_tokens = 0."""
    raw = F.split(F.trim(F.col(text_col)), r"\s+")
    raw = F.when(F.length(F.trim(F.col(text_col))) > 0, raw).otherwise(
        F.array().cast("array<string>")
    )
    norm = F.transform(raw, lambda t_: F.regexp_replace(F.lower(t_), "[^a-z0-9]", ""))

    def grams_of(df: DataFrame) -> DataFrame:
        base = df.select(
            F.col(id_col).cast("long").alias("id"), norm.alias("__nt")
        )
        g = base.select(
            "id",
            F.when(
                F.size("__nt") >= n,
                F.transform(
                    F.sequence(F.lit(1), F.size("__nt") - n + 1),
                    lambda i: F.struct(
                        i.alias("start"),
                        F.concat_ws(" ", F.slice("__nt", i, n)).alias("gram"),
                    ),
                ),
            )
            .otherwise(F.array().cast("array<struct<start:int,gram:string>>"))
            .alias("__g"),
        )
        return g.select("id", F.explode_outer("__g").alias("sg")).select(
            "id", F.col("sg.start").alias("start"), F.col("sg.gram").alias("gram")
        ).filter(F.col("gram").isNotNull())

    probe = grams_of(test).select("gram").dropDuplicates()
    matches = grams_of(train).join(F.broadcast(probe), "gram", "left_semi")
    covered = (
        matches.select(
            "id", F.explode(F.sequence(F.col("start"), F.col("start") + n - 1)).alias("pos")
        )
        .dropDuplicates()
    )
    toks = train.select(
        F.col(id_col).cast("long").alias("id"), F.posexplode_outer(raw).alias("pos0", "tok")
    ).select("id", (F.col("pos0") + 1).alias("pos"), "tok")
    kept = toks.filter(F.col("tok").isNotNull()).join(covered, ["id", "pos"], "left_anti")
    rebuilt = kept.groupBy("id").agg(
        F.concat_ws(
            " ",
            F.transform(
                F.sort_array(F.collect_list(F.struct("pos", "tok"))), lambda s: s["tok"]
            ),
        ).alias("__text"),
        F.count(F.lit(1)).cast("long").alias("__kept"),
    )
    base = train.select(
        F.col(id_col).cast("long").alias("id"),
        F.size(raw).cast("long").alias("total_tokens"),
    )
    return (
        base.join(rebuilt, "id", "left")
        .select(
            "id",
            F.coalesce("__text", F.lit("")).alias("text"),
            (F.col("total_tokens") - F.coalesce("__kept", F.lit(0))).alias(
                "removed_tokens"
            ),
            "total_tokens",
        )
    )


def semantic_decontaminate(
    corpus: DataFrame,
    probe: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    threshold: float = 0.8,
) -> DataFrame:
    """EMBEDDING-SPACE decontamination — the semantic complement to the
    n-gram collision rule (:func:`decontaminate`): flag corpus vectors
    whose cosine similarity to ANY probe (test/eval) vector reaches
    ``threshold``, catching paraphrased or re-worded benchmark leakage
    that exact n-gram matching misses (the contamination analysis used
    for GPT-4/Llama-style report cards).

    Plan: the probe side is broadcast (eval suites are tiny next to a
    training corpus) and the cosine predicate rides the broadcast
    nested-loop join, so the corpus is scanned ONCE and never shuffled;
    only matched (id, sim) pairs — not vectors — reach the per-id
    aggregation. For probe sets too large to broadcast, prescreen with
    the sign-LSH bucketing of :func:`embedding_near_duplicates` and
    exact-confirm survivors (same two-phase shape as
    :func:`decontaminate_bloom`).

    Returns (id, n_matches, max_cosine) for contaminated corpus rows;
    anti-join on id to clean the corpus. max_cosine is rounded to 6 dp
    so downstream comparisons don't hinge on sub-ulp float ordering."""
    def dot(a, b):
        return F.aggregate(
            F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, v: acc + v
        )

    # norms hoist into each side's own projection — the per-pair work in
    # the nested-loop join is ONE dot product, not three
    c = corpus.select(
        F.col(id_col).cast("long").alias("id"),
        F.col(vec_col).cast("array<double>").alias("__v"),
    ).select("id", "__v", F.sqrt(dot("__v", "__v")).alias("__nv"))
    p = probe.select(
        F.col(id_col).cast("long").alias("__pid"),
        F.col(vec_col).cast("array<double>").alias("__pv"),
    ).select("__pid", "__pv", F.sqrt(dot("__pv", "__pv")).alias("__np"))
    sim = dot(F.col("__v"), F.col("__pv")) / (F.col("__nv") * F.col("__np"))
    matched = c.join(F.broadcast(p), sim >= F.lit(threshold))
    return (
        matched.select("id", F.round(sim, 6).alias("__sim"))
        .groupBy("id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_matches"),
            F.max("__sim").alias("max_cosine"),
        )
    )


def self_dedup_spans(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 13,
) -> DataFrame:
    """WITHIN-CORPUS repeated-span excision — the substring-level self
    deduplication of Lee et al. 2022 ("Deduplicating Training Data Makes
    Language Models Better"), re-expressed relationally: every n-token
    span (normalized-token match) that occurs MORE THAN ONCE across the
    corpus keeps exactly one *owner* occurrence — the globally smallest
    ``(id, start)`` — and every other occurrence is excised from its
    document. Unlike document-level dedup this removes boilerplate that
    repeats *inside otherwise-distinct documents* (headers, footers,
    license blocks, templated paragraphs) without dropping the documents.

    The reference ships only whole-document dedup
    (src/truthound/validators/uniqueness.py); this is the corpus-curation
    extension of that family. Differences from the suffix-array original:
    spans are fixed n-token windows (overlapping duplicated windows merge
    into maximal excised spans through the position union), and matching
    is on normalized tokens, so cosmetic punctuation/case differences
    don't protect a duplicated span.

    Plan (100 TB shape): tokenize once with positions; ONE groupBy on the
    n-gram string computes (occurrence count, min-(id,start) owner); only
    grams with count ≥ 2 survive the filter before the back-join, so the
    join's build side is the duplicated-gram subset (AQE broadcasts it
    when small); covered positions explode to bare (id, pos) longs; the
    rebuild re-aggregates original tokens in position order. Nothing
    document-sized ever shuffles except the final per-doc concat — the
    same shape as :func:`decontaminate_spans`. At extreme corpus scale
    the gram-string shuffle can be shrunk ~10x by hashing grams to
    longs first (collision odds ~m²/2⁶⁴); kept exact here so the output
    is engine-reproducible.

    Returns one row per doc: (id, text, removed_tokens, total_tokens);
    text == original (modulo whitespace collapse) when removed_tokens=0."""
    raw = F.split(F.trim(F.col(text_col)), r"\s+")
    raw = F.when(F.length(F.trim(F.col(text_col))) > 0, raw).otherwise(
        F.array().cast("array<string>")
    )
    norm = F.transform(raw, lambda t_: F.regexp_replace(F.lower(t_), "[^a-z0-9]", ""))

    base = df.select(F.col(id_col).cast("long").alias("id"), norm.alias("__nt"))
    grams = (
        base.select(
            "id",
            F.when(
                F.size("__nt") >= n,
                F.transform(
                    F.sequence(F.lit(1), F.size("__nt") - n + 1),
                    lambda i: F.struct(
                        i.alias("start"),
                        F.concat_ws(" ", F.slice("__nt", i, n)).alias("gram"),
                    ),
                ),
            )
            .otherwise(F.array().cast("array<struct<start:int,gram:string>>"))
            .alias("__g"),
        )
        .select("id", F.explode_outer("__g").alias("sg"))
        .filter(F.col("sg").isNotNull())
        .select("id", F.col("sg.start").alias("start"), F.col("sg.gram").alias("gram"))
    )
    # (explode_outer, not explode: InferFiltersFromGenerate would infer a
    # size(__g) > 0 predicate and inline the whole gram pipeline into it —
    # re-tokenizing once per emitted gram; see _shingle_rows docstring.
    # Measured 9x on the sf0.1 bench.)
    # occurrence count + lexicographic-min (id, start) owner as WINDOW
    # aggregates over the gram (r13 HOF/reuse sweep): the former
    # groupBy+join-back evaluated the tokenize+gram pipeline twice (once
    # per side of the join) and shuffled the grams twice; the window
    # form is one gram pass and one gram-keyed exchange, same semantics.
    from pyspark.sql import Window

    wg = Window.partitionBy("gram")
    losers = (
        grams.withColumn("__occ", F.count(F.lit(1)).over(wg))
        .withColumn("__owner", F.min(F.struct("id", "start")).over(wg))
        .filter(
            (F.col("__occ") >= 2)
            & ~(
                (F.col("id") == F.col("__owner.id"))
                & (F.col("start") == F.col("__owner.start"))
            )
        )
    )
    covered = losers.select(
        "id",
        F.explode(F.sequence(F.col("start"), F.col("start") + n - 1)).alias("pos"),
    ).dropDuplicates()
    toks = df.select(
        F.col(id_col).cast("long").alias("id"),
        F.posexplode_outer(raw).alias("pos0", "tok"),
    ).select("id", (F.col("pos0") + 1).alias("pos"), "tok")
    kept = toks.filter(F.col("tok").isNotNull()).join(
        covered, ["id", "pos"], "left_anti"
    )
    rebuilt = kept.groupBy("id").agg(
        F.concat_ws(
            " ",
            F.transform(
                F.sort_array(F.collect_list(F.struct("pos", "tok"))), lambda s: s["tok"]
            ),
        ).alias("__text"),
        F.count(F.lit(1)).cast("long").alias("__kept"),
    )
    sizes = df.select(
        F.col(id_col).cast("long").alias("id"),
        F.size(raw).cast("long").alias("total_tokens"),
    )
    return sizes.join(rebuilt, "id", "left").select(
        "id",
        F.coalesce("__text", F.lit("")).alias("text"),
        (F.col("total_tokens") - F.coalesce("__kept", F.lit(0))).alias(
            "removed_tokens"
        ),
        "total_tokens",
    )


def corpus_diff(
    old: DataFrame,
    new: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Snapshot diff for corpus versioning: per-document status between
    two corpus versions — 'added' (id only in new), 'removed' (only in
    old), 'changed' (both, different content fingerprint), 'unchanged'.

    One full-outer join on the id with 32-char fingerprints as the only
    payload — documents never move. Feed the result to
    ``groupBy('status').count()`` for the release-note summary, or join
    'changed'/'added' ids back for incremental re-validation (the
    cache-invalidation set).

    Returns (id, status)."""
    o = old.select(
        F.col(id_col).cast("long").alias("id"),
        content_fingerprint(F.col(text_col)).alias("__fp_old"),
    )
    nw = new.select(
        F.col(id_col).cast("long").alias("id"),
        content_fingerprint(F.col(text_col)).alias("__fp_new"),
    )
    return o.join(nw, "id", "full_outer").select(
        "id",
        F.when(F.col("__fp_old").isNull(), F.lit("added"))
        .when(F.col("__fp_new").isNull(), F.lit("removed"))
        .when(
            F.col("__fp_old").eqNullSafe(F.col("__fp_new")), F.lit("unchanged")
        )
        .otherwise(F.lit("changed"))
        .alias("status"),
    )


def soft_dedup_weights(
    df: DataFrame,
    clusters: DataFrame | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
    alpha: float = 1.0,
) -> DataFrame:
    """SOFT deduplication: keep every copy but down-weight it —
    weight = 1 / n_copies^alpha, so a duplicate FAMILY contributes
    ~one document's worth of training signal instead of n (the
    SoftDeDup insight: dropping loses the family's best member and its
    natural frequency signal; re-weighting keeps both). alpha=1 is
    exact mass conservation; alpha<1 interpolates toward keeping
    duplicates' extra weight.

    Group key: the exact content fingerprint by default, or pass
    ``clusters`` (any (id/doc_id, cluster_id) frame, e.g. from
    :func:`dedup_clusters`) to weight by NEAR-dup family size.

    Scale: fingerprint groupBy shuffles 32-byte hashes (never
    documents); the weight join is on the id. Weights round to 6dp
    (engine-reproducible).

    Returns (id, n_copies, weight) — multiply into the loss or into
    sampling rates downstream."""
    if alpha <= 0:
        raise ValueError(f"alpha must be > 0, got {alpha}")
    base = df.select(F.col(id_col).cast("long").alias("id"))
    if clusters is not None:
        # LEFT join from the corpus: docs absent from the cluster frame
        # (singletons — connected_components only emits paired docs) are
        # their own family of 1, weight 1.0 — NOT silently dropped
        # (review r5: dropping uniques inverts the keep-every-copy
        # contract)
        cid = "id" if "id" in clusters.columns else id_col
        ckeys = clusters.select(
            F.col(cid).cast("long").alias("id"),
            F.col("cluster_id").cast("long").alias("__k"),
        )
        keyed = base.join(ckeys, "id", "left").select(
            "id", F.coalesce(F.col("__k"), F.col("id")).alias("__k")
        )
    else:
        keyed = df.select(
            F.col(id_col).cast("long").alias("id"),
            F.xxhash64(content_fingerprint(F.col(text_col))).alias("__k"),
        )
    sizes = keyed.groupBy("__k").agg(F.count(F.lit(1)).alias("n_copies"))
    return (
        keyed.join(sizes, "__k")
        .select(
            "id",
            F.col("n_copies").cast("long").alias("n_copies"),
            F.round(
                F.lit(1.0) / F.pow(F.col("n_copies").cast("double"), F.lit(float(alpha))),
                6,
            ).alias("weight"),
        )
    )


def dedup_pair_evidence(
    df: DataFrame,
    pairs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    top_k: int = 10,
) -> DataFrame:
    """Reviewer-facing evidence for flagged near-duplicate pairs: the
    concrete shared word n-grams (same mapping as the validator layer's
    evidence sampling, applied to the dedup surface) — a pair list alone
    says THAT two docs collided, this says WHY, which is what a human
    audit or an appeals process needs before deleting data.

    Plan: shingle the (already tiny) set of docs appearing in pairs —
    the corpus is touched only through a semi-join on those ids — then
    one pair join + array_intersect. ``top_k`` bounds the evidence
    payload per pair; ``n_shared`` keeps the full overlap count.

    Returns (id_a, id_b, n_shared, shared_ngrams array<string>) with
    shared n-grams sorted lexicographically, truncated to top_k."""
    ids = (
        pairs.select(F.col("id_a").alias("id"))
        .unionByName(pairs.select(F.col("id_b").alias("id")))
        .dropDuplicates()
    )
    docs = df.join(
        ids,
        df[id_col].cast("long") == ids["id"],
        "left_semi",
    )
    sh = _shingle_arrays(docs, text_col, id_col, n).select(
        "id", F.filter("sh", lambda x: x != F.lit("")).alias("sh")
    )
    a = sh.select(F.col("id").alias("id_a"), F.col("sh").alias("__sa"))
    b = sh.select(F.col("id").alias("id_b"), F.col("sh").alias("__sb"))
    shared = F.array_sort(
        F.array_intersect(F.col("__sa"), F.col("__sb"))
    )
    return (
        # LEFT joins: a flagged pair whose doc vanished from df (or has
        # null text) must still appear in the audit report — with 0
        # shared n-grams — not silently drop (review r5 #3)
        pairs.select(
            F.col("id_a").cast("long").alias("id_a"),
            F.col("id_b").cast("long").alias("id_b"),
        )
        .join(a, "id_a", "left")
        .join(b, "id_b", "left")
        .select(
            "id_a",
            "id_b",
            F.coalesce(F.size(shared), F.lit(0)).cast("long").alias("n_shared"),
            F.coalesce(
                F.slice(shared, 1, top_k), F.array().cast("array<string>")
            ).alias("shared_ngrams"),
        )
    )


def dedup_threshold_curve(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_jaccard: float = 0.05,
    bin_width: float = 0.05,
    shingle_n: int = 3,
    max_ngram_df: int = 1000,
) -> DataFrame:
    """The calibration curve BEHIND the dedup threshold choice: how many
    pairs exist at each Jaccard level, binned — run this before
    committing to 0.7/0.8/0.85, instead of guessing. The knee of the
    cumulative curve is where near-duplicate structure ends and topical
    similarity begins.

    Built on the EXACT inverted-index path (``ngram_jaccard_pairs``) —
    any pair with jaccard > 0 shares a shingle, so candidate generation
    is complete and the curve is exact down to ``min_jaccard`` (unlike
    a banded-LSH pass, whose recall collapses at low similarity; the
    ``max_ngram_df`` hub cap is the one scale guard, and under-counts
    only pairs whose overlap is exclusively ultra-common shingles).
    Bins are [lo, lo+width) on the 1e-6-rounded jaccard;
    ``n_pairs_at_least`` is the running total from the top — the pair
    count a threshold at that bin's lower edge would flag.

    Returns (bin_lo, n_pairs, n_pairs_at_least) ordered by bin_lo
    descending."""
    from pyspark.sql import Window

    pairs = ngram_jaccard_pairs(
        df, text_col, id_col, n=shingle_n, threshold=min_jaccard,
        max_ngram_df=max_ngram_df,
    )
    j = F.round(F.col("jaccard") * 1e6) / F.lit(1e6)
    bin_lo = F.round(
        F.floor(j / F.lit(float(bin_width))) * F.lit(float(bin_width)), 6
    )
    hist = (
        pairs.select(bin_lo.alias("bin_lo"))
        .groupBy("bin_lo")
        .agg(F.count(F.lit(1)).cast("long").alias("n_pairs"))
    )
    w = Window.orderBy(F.desc("bin_lo")).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return hist.select(
        "bin_lo",
        "n_pairs",
        F.sum("n_pairs").over(w).cast("long").alias("n_pairs_at_least"),
    ).orderBy(F.desc("bin_lo"))


def lsh_recall_eval(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 64,
    bands: int = 32,
    shingle_n: int = 3,
    min_jaccard: float = 0.2,
    bin_width: float = 0.1,
    max_ngram_df: int = 1000,
    max_bucket_size: int | None = None,  # tuner default: UNGUARDED recall
) -> DataFrame:
    """Measured LSH recall per Jaccard bin — the knob-tuning companion to
    ``dedup_threshold_curve``: before trusting (num_hashes, bands) at a
    threshold, measure what fraction of TRUE near-dup pairs the banded
    candidates actually cover at each similarity level (the S-curve
    1−(1−s^r)^b is theory; skewed shingle distributions bend it).

    Ground truth = the EXACT inverted-index pair set (complete down to
    ``min_jaccard`` — any overlapping pair shares a shingle); candidates
    = the banded-LSH pair set under the SAME shingling. A left join on
    the (id_a, id_b) keys marks coverage; one groupBy per bin returns
    (bin_lo, n_true, n_covered, recall). Scale: both sides are the
    bounded candidate machineries the dedup path already runs; the join
    keys are id pairs (longs), never documents.

    The tuning loop this enables: run at min_jaccard just below your
    intended threshold → if recall at the threshold bin is < ~0.95,
    raise bands (more, narrower bands = higher recall, more candidates)
    or add multi-probe; if 1.0 with huge candidate counts, lower bands.
    """
    exact = ngram_jaccard_pairs(
        df, text_col, id_col, n=shingle_n, threshold=min_jaccard,
        max_ngram_df=max_ngram_df,
    )
    cand = minhash_lsh_candidates(
        df, text_col, id_col, num_hashes=num_hashes, bands=bands,
        shingle_n=shingle_n, max_bucket_size=max_bucket_size,
    ).withColumn("__covered", F.lit(1))
    j = F.round(F.col("jaccard") * 1e6) / F.lit(1e6)
    bin_lo = F.round(
        F.floor(j / F.lit(float(bin_width))) * F.lit(float(bin_width)), 6
    )
    joined = exact.join(cand, ["id_a", "id_b"], "left")
    return (
        joined.select(bin_lo.alias("bin_lo"), F.coalesce("__covered", F.lit(0)).alias("c"))
        .groupBy("bin_lo")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_true"),
            F.sum("c").cast("long").alias("n_covered"),
            F.round(F.sum("c") / F.count(F.lit(1)), 6).alias("recall"),
        )
        .orderBy(F.desc("bin_lo"))
    )
