"""Similarity search over embedding columns (array<float>).

Baseline: brute-force cosine top-k (exact; cross-join + window rank).
Scale path: sign-random-projection LSH buckets — candidates only within
matching hash buckets, turning O(n·q) scoring into bucket-local work; and
an IVF-style coarse quantizer (k-means centroids → probe nearest cells).

All dot products are the one JVM-side fold ``dedup.dot`` (zip_with+aggregate);
no Python in the scoring loop.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from truthound_spark.litexpr import lit_double_array, lit_struct_array, sql_double
from truthound_spark.pipeline.dedup import (
    _ensure_parallelism,
    cosine_pair,
    cosine_sim,
    dot,
    l2_norm,
)


def brute_force_topk(
    df: DataFrame,
    queries: DataFrame,
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    query_vec_col: str | None = None,
    query_id_col: str | None = None,
    exclude_self: bool = True,
) -> DataFrame:
    """Exact cosine top-k neighbors for each query vector.

    queries is broadcast (query sets are small relative to the corpus);
    the corpus is scanned ONCE, scoring all queries per row — one shuffle
    for the per-query top-k window. Returns (query_id, id, cosine, rank).

    ``exclude_self=True`` (default) drops id == query_id pairs — right
    when queries come FROM the corpus; pass False for cross-corpus
    search where numerically equal ids are different documents
    (``align.mine_bitext``).

    Audited plan (Spark 4): the ``rank <= k`` filter compiles to
    ``WindowGroupLimit … Partial`` BEFORE the exchange — each map task
    ships only its local top-k per query, so the shuffle carries
    O(partitions · queries · k) rows, not O(corpus · queries).
    """
    qv = query_vec_col or vec_col
    qi = query_id_col or id_col
    # the q·dim cosine folds per corpus row are the cost — spread a
    # narrow (single-row-group file) scan across the cluster first
    # norms hoist OUT of the pair loop: each side's ||x|| is computed once
    # per ROW before the cross join (q·corpus pairs would otherwise fold
    # every vector's self-product q (resp. n) times — 3× the FLOPs and a
    # 3×-wider codegen tree). cosine = dot/(na·nb) is the IDENTICAL
    # arithmetic to cosine_sim — same values bit-for-bit, oracles intact.
    corpus = _ensure_parallelism(
        df.select(F.col(id_col).alias("id"), F.col(vec_col).cast("array<double>").alias("v"))
    ).withColumn("__na", l2_norm(F.col("v")))
    q = queries.select(
        F.col(qi).alias("query_id"), F.col(qv).cast("array<double>").alias("qv")
    ).withColumn("__nb", l2_norm(F.col("qv")))
    joined = corpus.crossJoin(F.broadcast(q))
    if exclude_self:
        joined = joined.filter(F.col("id") != F.col("query_id"))
    scored = joined.select(
        "query_id",
        "id",
        cosine_pair(F.col("v"), F.col("qv"), F.col("__na"), F.col("__nb")).alias(
            "cosine"
        ),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.col("id"))
    return scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


def sign_lsh_signature(vec: "F.Column", planes: list[list[float]]) -> "F.Column":
    """Sign-random-projection bucket id: bit i = sign(v · plane_i).

    planes are driver-generated (seeded) and inlined as literals — pure
    column math, no UDF."""
    bits = []
    for i, p in enumerate(planes):
        bits.append(
            F.when(dot(vec, lit_double_array(p)) >= 0, F.lit(1 << i)).otherwise(F.lit(0))
        )
    sig = bits[0]
    for b in bits[1:]:
        sig = sig + b
    return sig.cast("int")


def sign_lsh_band_entries(
    v: DataFrame, dim: int, num_planes: int, num_bands: int, seed: int
) -> DataFrame:
    """(id, band, bucket) banded sign-LSH entries of an (id, v) frame:
    band b's bucket is the :func:`sign_lsh_signature` of ``v`` under
    ``make_planes(dim, num_planes, seed + 7919 * b)`` — the planes the
    ``lof_embeddings`` oracle replays. One projection computes every
    band's signature and one explode emits them. Shared by
    ``dedup.embedding_near_duplicates`` and ``neighbors.lof_embeddings``,
    which pair the entries up in ``dedup._bucket_pairs``."""
    band_sigs = [
        F.struct(
            F.lit(band).alias("band"),
            sign_lsh_signature(
                F.col("v"), make_planes(dim, num_planes, seed + 7919 * band)
            ).alias("bucket"),
        )
        for band in range(num_bands)
    ]
    return v.select("id", F.explode(F.array(*band_sigs)).alias("bb")).select(
        "id", F.col("bb.band").alias("band"), F.col("bb.bucket").alias("bucket")
    )


def make_planes(dim: int, num_planes: int = 12, seed: int = 42) -> list[list[float]]:
    import numpy as np

    rng = np.random.RandomState(seed)
    return rng.standard_normal((num_planes, dim)).tolist()


def _vector_dim(df: DataFrame, vec_col: str) -> int:
    """Vector dimensionality — from parquet/table metadata when present
    (free), falling back to one probing row only for schemaless sources."""
    meta = df.schema[vec_col].metadata or {}
    if "dim" in meta:
        return int(meta["dim"])
    first = df.select(vec_col).where(F.col(vec_col).isNotNull()).first()
    if first is None or first[0] is None:
        raise ValueError(f"cannot infer dimensionality of all-null column {vec_col!r}")
    return len(first[0])


def lsh_topk(
    df: DataFrame,
    queries: DataFrame,
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    num_planes: int = 12,
    dim: int | None = None,
    seed: int = 42,
    probe_hamming: int = 0,
) -> DataFrame:
    """Approximate top-k: score only corpus vectors sharing the query's
    LSH bucket. Recall improves with fewer planes (bigger buckets); at
    100 TB, bucket the corpus ONCE (write bucketed parquet) and reuse.

    ``probe_hamming=1`` enables MULTI-PROBE: each query also probes the
    ``num_planes`` buckets one sign-flip away (Lv et al. 2007) — the
    near-miss neighbors a single-bucket probe loses sit overwhelmingly
    in Hamming-1 buckets, so recall recovers WITHOUT coarsening the
    bucketing (the corpus side, and any persisted bucketed layout, is
    untouched — only the tiny broadcast query side fans out
    num_planes+1×)."""
    if probe_hamming not in (0, 1):
        raise ValueError(f"probe_hamming must be 0 or 1, got {probe_hamming}")
    if dim is None:
        dim = _vector_dim(df, vec_col)
    planes = make_planes(dim, num_planes, seed)
    corpus = df.select(
        F.col(id_col).alias("id"),
        F.col(vec_col).cast("array<double>").alias("v"),
    ).withColumn("bucket", sign_lsh_signature(F.col("v"), planes))
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).cast("array<double>").alias("qv"),
    ).withColumn("bucket", sign_lsh_signature(F.col("qv"), planes))
    if probe_hamming == 1:
        probes = F.array(
            F.col("bucket"),
            *[
                F.col("bucket").bitwiseXOR(F.lit(1 << i)).cast("int")
                for i in range(num_planes)
            ],
        )
        q = q.select(
            "query_id", "qv", F.explode(probes).alias("bucket")
        )
    return _cosine_topk(corpus, q, "bucket", k)


def ivf_assign(
    df: DataFrame,
    num_cells: int = 16,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    seed: int = 42,
    max_iter: int = 5,
    sample_rows: int = 10_000,
) -> tuple[DataFrame, list[list[float]]]:
    """IVF coarse quantizer: k-means centroids fit on a sample (driver,
    numpy), then every vector assigned to its nearest centroid cell with
    broadcast-literal column math. Returns (df + 'cell', centroids).

    Search then probes only the query's nearest cell(s) — the classic
    inverted-file ANN layout; cells map naturally to partition pruning
    when the assignment is persisted as a partition column."""
    import numpy as np

    # Random sample, not limit(): limit takes the FIRST partitions in
    # order, which biases centroids on any sorted/partitioned dataset —
    # so collect the whole (bounded, ~1.2x oversized) sample and trim it
    # with a seeded numpy choice; applying .limit() to the sample would
    # quietly reintroduce the same partition-order bias.
    nn = df.select(vec_col).where(F.col(vec_col).isNotNull())
    n = nn.count()
    frac = min(1.0, (sample_rows * 1.2) / max(n, 1))
    sample_df = nn if frac >= 1.0 else nn.sample(fraction=frac, seed=seed)
    collected = [r[0] for r in sample_df.collect()]
    rng0 = np.random.RandomState(seed)
    if len(collected) > sample_rows:
        idx = rng0.choice(len(collected), size=sample_rows, replace=False)
        collected = [collected[i] for i in idx]
    sample = np.array(collected, dtype=float)
    rng = np.random.RandomState(seed)
    centroids = sample[rng.choice(len(sample), size=min(num_cells, len(sample)), replace=False)]
    for _ in range(max_iter):
        d2 = ((sample[:, None, :] - centroids[None, :, :]) ** 2).sum(-1)
        assign = d2.argmin(1)
        for c in range(len(centroids)):
            members = sample[assign == c]
            if len(members):
                centroids[c] = members.mean(0)
    cents = centroids.tolist()

    v = F.col(vec_col).cast("array<double>")
    dists = []
    for ci, cent in enumerate(cents):
        lit = lit_double_array(cent)
        d2c = F.aggregate(
            F.zip_with(v, lit, lambda a, b: (a - b) * (a - b)), F.lit(0.0), lambda acc, x: acc + x
        )
        dists.append(d2c.alias(f"__d{ci}"))
    # argmin over centroid distances via array_position(array_min)
    assigned = df.withColumn("__dists", F.array(*dists))
    assigned = assigned.withColumn(
        "cell", F.array_position(F.col("__dists"), F.array_min(F.col("__dists"))).cast("int") - 1
    ).drop("__dists")
    return assigned, cents


def l2_sq(a: "F.Column", b: "F.Column") -> "F.Column":
    """Squared L2 distance in dot-product form: a·a - 2·a·b + b·b.

    The dot-product formulation (sequential fold, identical on both
    vectors) is chosen over sum((a-b)²) so a SQL oracle computing the
    same three list_dot_product terms reproduces the exact IEEE result —
    the property that lets IVF cell ASSIGNMENT (an unrounded argmin)
    hash-match across engines.

    For the crossJoin(centroids) assign shape use
    :func:`_nearest_cells` instead — same distance bit-for-bit,
    2/3 of the folds hoisted out of the per-pair expression."""
    return dot(a, a) - 2 * dot(a, b) + dot(b, b)


# ---------------------------------------------------------------------------
# coarse quantizer: every IVF / IVF-PQ / SemDeDup operator seeds, assigns,
# probes and scores through these four helpers
# ---------------------------------------------------------------------------


def _seed_cells(df: DataFrame, vec_col: str, id_col: str, num_cells: int) -> DataFrame:
    """The closed-form coarse quantizer: the ``num_cells`` lowest-id
    NON-NULL vectors as ``(cell, cv)``, cell = the vector's id. Lowest
    ids (a TakeOrderedAndProject top-k, never a global sort), not
    ``filter(id < num_cells)``, which is empty for id spaces that do not
    start near 0 (snowflake ids). Null vectors cannot seed: a NULL
    centroid makes every row's d2 NULL, which sorts FIRST in the
    nearest-cell window and pulls every row into that one cell."""
    return (
        df.where(F.col(vec_col).isNotNull())
        .select(
            F.col(id_col).cast("long").alias("cell"),
            F.col(vec_col).cast("array<double>").alias("cv"),
        )
        .orderBy("cell")
        .limit(num_cells)
    )


def _nearest_cells(
    left: DataFrame, key: str, vcol: str, cents: DataFrame, n: int
) -> DataFrame:
    """``left`` plus ``cell``: each ``key``'s ``n`` nearest ``(cell, cv)``
    centroids by l2 distance, ties to the lower cell — ``n=1`` is the
    coarse ASSIGNMENT, ``n=nprobe`` a query's PROBES.

    Plan: ``left.crossJoin(broadcast(cents))`` (never a corpus shuffle),
    then a ``row_number`` over ``(d2, cell)`` per key whose ``<= n``
    filter compiles to a partial ``WindowGroupLimit`` — the |cells|×
    amplification collapses map-side, before any exchange.

    The :func:`l2_sq` self-dots are HOISTED out of the per-pair
    expression (the ``_pq_subspace_code`` strength reductions):
    ``dot(v,v)`` folds once per LEFT row, in a projection below the
    join, and ``dot(cv,cv)`` once per centroid row, below the broadcast
    exchange, so each (row × centroid) pair folds only the cross term.
    HOF folds are CodegenFallback (interpreted per eval), which is what
    makes redundant evals a real per-row cost at scale. ``d2`` combines
    the SAME fold values with the SAME operator tree as ``l2_sq``
    (Add(Subtract(vv, 2·ab), cc), multiplication commutes bit-exactly),
    so distances and therefore cells are bit-identical to it and to the
    oracles' list_dot_product replay."""
    kept = [*left.columns, "cell"]
    lw = left.withColumn("__vv", dot(F.col(vcol), F.col(vcol)))
    cw = cents.withColumn("__cc", dot(F.col("cv"), F.col("cv")))
    d2 = F.col("__vv") - 2 * dot(F.col(vcol), F.col("cv")) + F.col("__cc")
    w = Window.partitionBy(key).orderBy("d2", "cell")
    return (
        lw.crossJoin(F.broadcast(cw))
        .select(*kept, d2.alias("d2"))
        .withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= n)
        .select(*kept)
    )


def _cosine_topk(corpus: DataFrame, probes: DataFrame, key: str, k: int) -> DataFrame:
    """Exact cosine top-k of each query over the corpus rows that share
    its ``key`` (LSH bucket or IVF cell): ``corpus`` (id, v, key) joins
    the BROADCAST ``probes`` (query_id, qv, key) on ``key``, a query
    never scores itself, and the per-query ``rank <= k`` window keeps
    ``(query_id, id, cosine, rank)`` — ties on cosine to the lower id.
    Each side's norm folds once per row, below the join, so a pair folds
    only its cross term; :func:`cosine_pair` keeps the values
    bit-identical to ``cosine_sim``."""
    scored = (
        corpus.withColumn("__na", l2_norm(F.col("v")))
        .join(F.broadcast(probes.withColumn("__nb", l2_norm(F.col("qv")))), key)
        .filter(F.col("id") != F.col("query_id"))
        .select(
            "query_id",
            "id",
            cosine_pair(F.col("v"), F.col("qv"), F.col("__na"), F.col("__nb")).alias(
                "cosine"
            ),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.col("id"))
    return scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


def _residual_frame(df: DataFrame, vec_col: str, id_col: str, cents: DataFrame) -> DataFrame:
    """``(id, cell, __rv)``: each non-null vector's coarse cell and its
    RESIDUAL ``x − centroid(cell(x))`` — one assignment pass
    (:func:`_nearest_cells` top-1) plus an elementwise subtract against
    the broadcast centroids. The input of residual IVF-PQ training and
    encoding (``ivfpq_search(residual=True)``, ``ivfpq_train_residual``)."""
    base = df.select(
        F.col(id_col).cast("long").alias("id"),
        F.col(vec_col).cast("array<double>").alias("v"),
    ).where(F.col("v").isNotNull())
    return (
        _nearest_cells(base, "id", "v", cents, 1)
        .join(
            F.broadcast(cents.withColumnRenamed("cell", "__ccell")),
            F.col("cell") == F.col("__ccell"),
        )
        .select(
            "id",
            "cell",
            F.zip_with(F.col("v"), F.col("cv"), lambda a, b: a - b).alias("__rv"),
        )
    )


def ivf_seeded_topk(
    df: DataFrame,
    queries: DataFrame,
    k: int = 5,
    num_cells: int = 16,
    nprobe: int = 2,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """IVF ANN with DETERMINISTIC seed centroids: the ``num_cells``
    lowest-id non-null vectors act as the coarse quantizer
    (:func:`_seed_cells`, no Lloyd iterations), making the whole index
    closed-form and oracle-verifiable; the production path
    (``ivf_assign``) fits real k-means on a seeded sample.

    Plan: centroids are a broadcast 16-row frame; corpus assignment and
    each query's ``nprobe`` probed cells are :func:`_nearest_cells`
    (broadcast cross join → min-(distance, cell) window, collapsed
    before any shuffle by the WindowGroupLimit partial top-n); search =
    :func:`_cosine_topk` within probed cells only. Returns (query_id,
    id, cosine, rank).

    Cross-engine determinism caveat (ADVICE r3): the argmin cell
    assignment and the final rank order compare UNROUNDED floats, so a
    DuckDB-oracle hash-match additionally assumes both engines fold the
    dot product in the same left-to-right element order (true today for
    F.aggregate vs list_dot_product). Distances/cosines whose difference
    is below one ulp of the fold could in principle assign/rank
    differently on another engine version — ties at 6-dp are already
    broken deterministically by (cell) / (id); if a future oracle flips,
    round the window sort keys like pca_power_anomaly_lineitem does."""
    cents = _seed_cells(df, vec_col, id_col, num_cells)
    corpus = df.select(
        F.col(id_col).cast("long").alias("id"),
        F.col(vec_col).cast("array<double>").alias("v"),
    )
    q = queries.select(
        F.col(id_col).cast("long").alias("query_id"),
        F.col(vec_col).cast("array<double>").alias("qv"),
    )
    return _cosine_topk(
        _nearest_cells(corpus, "id", "v", cents, 1),
        _nearest_cells(q, "query_id", "qv", cents, nprobe),
        "cell",
        k,
    )


def embedding_stats(
    df: DataFrame,
    vec_col: str = "embedding",
    expected_dim: int | None = None,
) -> DataFrame:
    """Corpus-level embedding-column health report — ONE fused aggregate
    (the engine's standard validation plan shape) over the checks an
    embedding pipeline actually breaks on: null vectors, dimension drift
    after a model swap, NaN components from overflowed encoders,
    all-zero vectors from failed inference, and norm collapse/explosion.

    Columns: n_vectors, n_null, n_dim_mismatch (vs ``expected_dim``, or
    vs the column's MODAL dimension when omitted — robust to a handful of
    corrupted outlier dims, unlike a max), n_nan, n_zero, avg_norm,
    min_norm, max_norm. Empty/all-null input → n_dim_mismatch = 0.

    Determinism: per-vector norms are a sequential JVM fold (bit-identical
    to a SQL engine's list fold); avg_norm sums QUANTIZED norms
    (``round(norm·1e6)`` → long) so the distributed sum is exact and
    addition-order-independent — the same trick as clustering.kmeans.
    min/max pick existing values (order-free). Everything rounds to 6dp.

    Scale: one scan, one 1-row shuffle. The fold reads every component
    once; no UDFs, no collect.
    """
    v = F.col(vec_col).cast("array<double>")
    dim = F.size(v)
    norm = F.sqrt(dot(v, v))
    has_nan = F.exists(v, lambda x: F.isnan(x))
    is_zero = (dim > 0) & F.forall(v, lambda x: x == F.lit(0.0))
    qnorm = F.round(norm * F.lit(1e6)).cast("long")
    if expected_dim is None:
        # MODAL dimension, not MAX (ADVICE r4): with MAX, one corrupted
        # over-long vector flips every healthy vector to "mismatched"
        # (n-1 instead of 1), inverting the health signal. One extra
        # small groupBy-on-size aggregate (never an unpartitioned window);
        # its scalar re-enters the fused agg as a literal. Ties break to
        # the smaller dimension, deterministically.
        mode_row = (
            df.filter(v.isNotNull())
            .groupBy(F.size(v).alias("__d"))
            .agg(F.count(F.lit(1)).alias("__c"))
            .orderBy(F.desc("__c"), F.asc("__d"))
            .first()
        )
        expected_dim = mode_row["__d"] if mode_row is not None else None
    if expected_dim is None:
        # empty / all-null input: no reference dimension exists, so no
        # vector can mismatch (counter stays 0, not null)
        dim_ref = dim
    else:
        dim_ref = F.lit(expected_dim)
    base = df.select(
        v.alias("__v"),
        dim.alias("__dim"),
        has_nan.alias("__nan"),
        is_zero.alias("__zero"),
        F.when(v.isNotNull() & ~has_nan, qnorm).alias("__qnorm"),
        F.when(v.isNotNull() & ~has_nan, norm).alias("__norm"),
        (v.isNotNull() & (dim != dim_ref)).alias("__mismatch"),
    )
    # counters coalesce to 0 so the documented empty-input contract
    # (n_* = 0, never NULL) holds — SUM over zero rows is NULL in SQL
    return base.agg(
        F.count(F.lit(1)).alias("n_vectors"),
        F.coalesce(F.sum(F.col("__v").isNull().cast("long")), F.lit(0)).alias(
            "n_null"
        ),
        F.coalesce(F.sum(F.col("__mismatch").cast("long")), F.lit(0)).alias(
            "n_dim_mismatch"
        ),
        F.coalesce(
            F.sum(F.coalesce(F.col("__nan"), F.lit(False)).cast("long")), F.lit(0)
        ).alias("n_nan"),
        F.coalesce(
            F.sum(F.coalesce(F.col("__zero"), F.lit(False)).cast("long")), F.lit(0)
        ).alias("n_zero"),
        F.round(F.sum("__qnorm") / F.count("__qnorm") / F.lit(1e6), 6).alias("avg_norm"),
        F.round(F.min("__norm"), 6).alias("min_norm"),
        F.round(F.max("__norm"), 6).alias("max_norm"),
    )


def ivf_build_index(
    df: DataFrame,
    path: str,
    num_cells: int = 16,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    centroids: DataFrame | None = None,
    mode: str = "overwrite",
) -> None:
    """Persist an IVF index: vectors partitioned BY CELL on disk.

    This is the piece that makes IVF pay off at 100 TB: assignment cost is
    paid once at build time, and every search after that reads ONLY the
    probed cells' parquet partitions (``cell=k/`` directories → Spark
    partition pruning, asserted by plan test). Layout:

    * ``{path}/vectors/cell=<c>/…`` — (id, v) rows, one directory per cell
    * ``{path}/centroids``          — (cell, cv), tiny

    ``centroids``: any (cell, cv) frame — :func:`truthound_spark.pipeline.
    clustering.kmeans_vec` for production, default = :func:`_seed_cells`
    (the ``num_cells`` lowest-id non-null vectors: closed-form,
    oracle-verifiable). Assignment is :func:`_nearest_cells` top-1.
    """
    v = df.select(
        F.col(id_col).cast("long").alias("id"),
        F.col(vec_col).cast("array<double>").alias("v"),
    )
    if centroids is None:
        centroids = _seed_cells(df, vec_col, id_col, num_cells)
        if centroids.limit(1).count() == 0:
            raise ValueError(
                "ivf_build_index: input has no vectors to seed default "
                "centroids from; pass an explicit `centroids` frame"
            )
    assigned = _nearest_cells(v, "id", "v", centroids, 1)
    assigned.write.mode(mode).partitionBy("cell").parquet(f"{path}/vectors")
    centroids.write.mode(mode).parquet(f"{path}/centroids")


def ivf_search_index(
    spark,
    path: str,
    queries: DataFrame,
    k: int = 5,
    nprobe: int = 2,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Search a persisted IVF index: probe each query's ``nprobe`` nearest
    cells, scan ONLY those partitions, exact cosine inside them.

    The probed-cell set (≤ queries × nprobe values) becomes an ``isin``
    partition filter on the vectors scan — Spark lists just those
    ``cell=`` directories, so search I/O is |probed cells| / |cells| of
    the corpus regardless of corpus size. Returns (query_id, id, cosine,
    rank), identical semantics (and results, for the same centroids) to
    the in-memory ``ivf_seeded_topk``."""
    cents = spark.read.parquet(f"{path}/centroids").select(
        F.col("cell").cast("long").alias("cell"), F.col("cv")
    )
    q = queries.select(
        F.col(id_col).cast("long").alias("query_id"),
        F.col(vec_col).cast("array<double>").alias("qv"),
    )
    probes = _nearest_cells(q, "query_id", "qv", cents, nprobe).localCheckpoint(
        eager=True
    )
    probed_cells = [r["cell"] for r in probes.select("cell").distinct().collect()]
    corpus = (
        spark.read.parquet(f"{path}/vectors")
        .filter(F.col("cell").isin(probed_cells))
        .select("id", "v", F.col("cell").cast("long").alias("cell"))
    )
    return _cosine_topk(corpus, probes, "cell", k)


def quantize_embeddings(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Symmetric int8 quantization: per-vector scale = max|x|/127,
    q_i = round(x_i / scale) ∈ [-127, 127]. Cuts embedding storage ~4×
    (plus parquet byte-packing) — the standard trick for keeping a
    100 TB embedding corpus scannable; cosine on dequantized vectors is
    within ~1e-2 of exact for unit-scale embeddings (recall pinned by
    test). Pure column math; deterministic, so SQL-certifiable.

    Returns (id, scale, q: array<tinyint>). Reconstruct with
    ``dequantize_embeddings``; all-zero vectors get scale 0 and zero
    codes (guarded division)."""
    v = F.col(vec_col).cast("array<double>")
    amax = F.array_max(F.transform(v, lambda x: F.abs(x)))
    scale = amax / F.lit(127.0)
    # guard on SCALE, not amax: a subnormal amax (≈5e-324) underflows
    # amax/127 to exactly 0.0, and dividing by it would raise under ANSI
    # mode — such vectors quantize to zero codes with scale 0, same as
    # true zero vectors (found by hypothesis)
    q = F.when(
        scale > 0,
        F.transform(v, lambda x: F.round(x / scale).cast("byte")),
    ).otherwise(F.transform(v, lambda x: F.lit(0).cast("byte")))
    return df.select(
        F.col(id_col).cast("long").alias("id"),
        scale.alias("scale"),
        q.alias("q"),
    )


def dequantize_embeddings(
    df: DataFrame,
    scale_col: str = "scale",
    q_col: str = "q",
    out_col: str = "embedding",
) -> DataFrame:
    """Inverse of ``quantize_embeddings``: x̂_i = q_i · scale."""
    return df.withColumn(
        out_col,
        F.transform(F.col(q_col), lambda c: c.cast("double") * F.col(scale_col)),
    )


def evaluate_recall(
    approx: DataFrame,
    exact: DataFrame,
    query_col: str = "query_id",
    id_col: str = "id",
) -> DataFrame:
    """Recall@k of an approximate top-k result against the exact one —
    the evaluation loop for tuning LSH planes/bands, IVF nprobe, or
    quantization: both inputs are (query_id, id[, rank]) frames from
    ``brute_force_topk`` / ``lsh_topk`` / ``ivf_*`` / quantized search.

    Returns (query_id, hits, expected, recall) plus one '__overall__'
    row. Joins on (query, id) — never materializes score matrices."""
    a = approx.select(F.col(query_col).alias("q"), F.col(id_col).alias("i"))
    e = exact.select(F.col(query_col).alias("q"), F.col(id_col).alias("i"))
    hits = a.join(e, ["q", "i"], "left_semi").groupBy("q").agg(
        F.count(F.lit(1)).alias("hits")
    )
    expected = e.groupBy("q").agg(F.count(F.lit(1)).alias("expected"))
    per_q = expected.join(hits, "q", "left").select(
        F.col("q").alias(query_col),
        F.coalesce("hits", F.lit(0)).alias("hits"),
        "expected",
        F.round(F.coalesce("hits", F.lit(0)) / F.col("expected"), 6).alias("recall"),
    )
    overall = per_q.agg(
        F.lit("__overall__").alias(query_col),
        F.sum("hits").alias("hits"),
        F.sum("expected").alias("expected"),
        F.round(F.sum("hits") / F.sum("expected"), 6).alias("recall"),
    )
    return per_q.select(
        F.col(query_col).cast("string").alias(query_col), "hits", "expected", "recall"
    ).unionByName(overall)


def pq_train(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    m: int = 2,
    k: int = 16,
    iters: int = 2,
    scale: float = 1e6,
) -> list[list[tuple[int, list[float]]]]:
    """PRODUCT QUANTIZATION codebook training (Jégou, Douze, Schmid 2011
    — the FAISS `PQ` compressor): split each vector into ``m`` contiguous
    subvectors and train an independent k-means codebook per subspace.
    A vector then compresses to m small codes (k≤256 ⇒ m bytes) while
    distances remain computable code-wise — the memory/recall midpoint
    between int8 quantization (4x) and raw floats; at m=8, k=256 over
    768-dim floats the compression is 384x.

    Training is deterministic Lloyd's per subspace (quantized-long sums,
    k-lowest-id init, (dist, cell) argmin tie-break — the oracle replays
    it per slice); at ``m=1`` it IS
    :func:`truthound_spark.pipeline.clustering.kmeans_vec`, which is
    this trainer plus the :func:`pq_encode` assignment. FUSED across
    subspaces: every Lloyd round is ONE
    exploded aggregation covering all m subspaces (rows explode to
    (subspace, subvector, cell), groupBy (subspace, cell) sums), so the
    per-iteration cost is one scan + one m·k-row shuffle instead of m
    separate jobs. Same bytes, 1/m the job launches — the difference
    between 8 sequential passes and 1 at any scale.

    Returns ``codebooks``: codebooks[s] = [(cell, centroid), …] for
    subspace s (driver-side lists — m·k·(dim/m) floats, tiny)."""
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    pts = (
        df.select(
            F.col(id_col).cast("long").alias("id"),
            F.transform(
                F.col(vec_col).cast("array<double>"),
                lambda x: F.round(x * F.lit(float(scale))).cast("long"),
            ).alias("qv"),
        )
        .where(F.col("qv").isNotNull())
        .localCheckpoint(eager=True)
    )
    init = pts.orderBy("id").limit(k).collect()
    if not init:
        raise ValueError("pq_train: input has no non-null vectors")
    # dim comes free from the init rows — no separate probing job
    dim = len(init[0]["qv"])
    if dim % m != 0:
        raise ValueError(f"m={m} must divide the vector dim {dim}")
    sub_d = dim // m
    codebooks: list[list[tuple[int, list[float]]]] = [
        [
            (ci, [q / scale for q in row["qv"][s * sub_d : (s + 1) * sub_d]])
            for ci, row in enumerate(init)
        ]
        for s in range(m)
    ]
    xv = F.transform(F.col("qv"), lambda q: q / F.lit(float(scale)))
    pv = pts.select("id", "qv", xv.alias("xv"))
    # subvectors and their self-dots materialize once per row (their own
    # projections — multi-use aliases survive CollapseProject), so each
    # round's argmin tree is k lookups per subspace, not k re-slices and
    # 3k folds: the codegen cost of the fused round stays linear in m·k
    psub = pv.select(
        "qv",
        *[F.slice("xv", s * sub_d + 1, sub_d).alias(f"__xs{s}") for s in range(m)],
    )
    pxx = psub.select(
        "qv",
        *[F.col(f"__xs{s}") for s in range(m)],
        *[
            dot(F.col(f"__xs{s}"), F.col(f"__xs{s}")).alias(f"__xx{s}")
            for s in range(m)
        ],
    )
    for _ in range(iters):
        subs = F.array(
            *[
                F.struct(
                    F.lit(s).alias("s"),
                    F.slice("qv", s * sub_d + 1, sub_d).alias("sq"),
                    _pq_subspace_code(
                        F.col(f"__xs{s}"), codebooks[s], xx=F.col(f"__xx{s}")
                    ).alias("cell"),
                )
                for s in range(m)
            ]
        )
        agg = (
            pxx.select(F.explode(subs).alias("e"))
            .select("e.s", "e.sq", "e.cell")
            .groupBy("s", "cell")
            .agg(
                F.count(F.lit(1)).alias("n"),
                *[
                    F.sum(F.element_at("sq", j + 1)).alias(f"s{j}")
                    for j in range(sub_d)
                ],
            )
            .collect()
        )
        codebooks = [[] for _ in range(m)]
        for row in agg:
            codebooks[int(row["s"])].append(
                (
                    int(row["cell"]),
                    [
                        (float(row[f"s{j}"]) / float(row["n"])) / scale
                        for j in range(sub_d)
                    ],
                )
            )
        codebooks = [sorted(cb, key=lambda t: t[0]) for cb in codebooks]
    return codebooks


def _pq_subspace_code(xsub, centroids: list[tuple[int, list[float]]], xx=None):
    """argmin-by-(dist, cell) code for one subvector against inlined
    centroid literals — the Lloyd assignment of :func:`pq_train` (and so
    of ``kmeans_vec``), ``dot(x,x) − 2·dot(x,c) + dot(c,c)`` with the
    same left-to-right fold order. Three IEEE-safe strength reductions keep the expression
    tree O(1) in k instead of O(k): ``dot(c,c)`` is a Python-side
    constant (identical sequential fold over the same doubles), ``xx``
    lets the caller compute ``dot(x,x)`` ONCE per subspace, and — the
    big one — the k centroids inline as ONE literal array of (cell, cv,
    cc) structs scanned by a single ``transform`` lambda, so Catalyst
    analyzes/optimizes/compiles ONE distance expression evaluated k
    times at runtime, not k cloned fold trees. At m=8, k=16 this cut
    the whole train+search plan latency ~5× (pure driver/codegen time —
    the data math is unchanged and bit-identical, pinned by the PQ
    oracle slots)."""
    if xx is None:
        xx = dot(xsub, xsub)
    # one F.expr per codebook instead of k·(d+2) F.lit py4j round trips —
    # identical Literal nodes (see litexpr), ~100× cheaper to construct
    cents = lit_struct_array(
        [
            {
                "cell": str(int(ci)),
                "cv": "array(" + ",".join(sql_double(v) for v in c) + ")",
                "cc": sql_double(sum((v * v for v in c), 0.0)),
            }
            for ci, c in centroids
        ]
    )
    scored = F.transform(
        cents,
        lambda e: F.struct(
            (xx - 2 * dot(xsub, e["cv"]) + e["cc"]).alias("dist"),
            e["cell"].alias("cell"),
        ),
    )
    return F.array_min(scored)["cell"]


def _quantize_half_away(x: float, scale: float) -> float:
    """HALF-AWAY-FROM-ZERO quantization to the 1/scale grid — matches
    Spark's F.round and DuckDB's round on ties; Python's builtin round
    is half-EVEN, a latent tie divergence in paths the oracle replays
    with SQL round (review r5)."""
    import math

    return math.copysign(math.floor(abs(x) * scale + 0.5), x) / scale


def _pq_luts(qv: list[float], codebooks, sub_d: int) -> list[list[float]]:
    """Per-subspace ADC lookup tables for one (already grid-quantized)
    query, each indexed BY CELL ID with +inf for missing cells (see
    :func:`_pq_adc_dist`)."""
    luts: list[list[float]] = []
    for s in range(len(codebooks)):
        qs = qv[s * sub_d : (s + 1) * sub_d]
        max_cell = max(ci for ci, _c in codebooks[s])
        lut = [float("inf")] * (max_cell + 1)
        for ci, c in codebooks[s]:
            lut[ci] = sum((a - b) * (a - b) for a, b in zip(qs, c))
        luts.append(lut)
    return luts


def _pq_adc_dist(qv: list[float], codebooks, sub_d: int):
    """Σ_s LUT_s[code_s] as a Column over a ``codes`` array column, with
    each LUT indexed BY CELL ID: a Lloyd round that empties a cell makes
    cell ids non-contiguous (e.g. [0, 1, 3]) and a positional LUT would
    read the wrong entry — or overflow under ANSI mode (review r5).
    Missing cells hold +inf; no code ever references them (codes come
    from the same codebook), the sentinel only keeps ``element_at``
    in-bounds. Returns the 1e-6-quantized distance column."""
    dist = None
    for s, lut in enumerate(_pq_luts(qv, codebooks, sub_d)):
        lut_lit = lit_double_array(lut)
        term = F.element_at(lut_lit, F.element_at("codes", s + 1) + 1)
        dist = term if dist is None else dist + term
    return F.round(dist * 1e6) / F.lit(1e6)


def _pq_codes_from(frame: DataFrame, codebooks, extra: tuple[str, ...] = ()):
    """(id, *extra, codes) from a frame carrying (id, __x, *extra) where
    ``__x`` is the grid-quantized vector — THE shared encode projection
    (pq_encode and ivfpq_search), so the subvector/self-dot
    materialization and the argmin wiring exist once."""
    m = len(codebooks)
    sub_d = len(codebooks[0][0][1])
    subs = frame.select(
        "id",
        *extra,
        *[F.slice("__x", s * sub_d + 1, sub_d).alias(f"__sub{s}") for s in range(m)],
    )
    with_xx = subs.select(
        "id",
        *extra,
        *[F.col(f"__sub{s}") for s in range(m)],
        *[
            dot(F.col(f"__sub{s}"), F.col(f"__sub{s}")).alias(f"__xx{s}")
            for s in range(m)
        ],
    )
    codes = F.array(
        *[
            _pq_subspace_code(F.col(f"__sub{s}"), codebooks[s], xx=F.col(f"__xx{s}"))
            for s in range(m)
        ]
    )
    return with_xx.select("id", *extra, codes.alias("codes"))


def pq_encode(
    df: DataFrame,
    codebooks: list[list[tuple[int, list[float]]]],
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    scale: float = 1e6,
) -> DataFrame:
    """Encode vectors to PQ codes: per subspace, the (dist, cell)-argmin
    against that subspace's codebook — pure column math over inlined
    centroid literals (m·k small dot products per row, one codegen'd
    map-only projection; vectors are quantized to the same fixed-point
    grid the trainer used so encode(x) equals the trainer's own final
    assignment).

    Returns (id, codes: array<int>), codes[s] = cell in subspace s."""
    qx = F.transform(
        F.col(vec_col).cast("array<double>"),
        lambda x: F.round(x * F.lit(float(scale))) / F.lit(float(scale)),
    )
    base = df.select(F.col(id_col).cast("long").alias("id"), qx.alias("__x"))
    return _pq_codes_from(base, codebooks)


def pq_search(
    df: DataFrame,
    queries: DataFrame,
    codebooks: list[list[tuple[int, list[float]]]],
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    query_id_col: str = "query_id",
    scale: float = 1e6,
) -> DataFrame:
    """Asymmetric-distance (ADC) top-k over PQ codes: the query stays
    full-precision, each corpus vector is its m codes, and the distance
    is Σ_s ||q_s − centroid_s(code_s)||² — m table lookups per candidate
    instead of a dim-length dot product.

    Plan: corpus encodes once (map-only); per query the m·k lookup
    table entries inline as literal arrays and the scan sums
    LUT[s][code_s] — no join against the corpus vectors at all, the
    scored relation carries only (id, m codes). Scores are quantized to
    1e-6 before ranking (engine-reproducible rank order, same contract
    as IVF/BM25). Returns (query_id, id, adc_dist, rank)."""
    sub_d = len(codebooks[0][0][1])
    qrows = queries.select(
        F.col(query_id_col).cast("long").alias("query_id"),
        F.col(vec_col).cast("array<double>").alias("qv"),
    ).collect()
    if not qrows:
        # empty query side: F.array() would be array<void> and the e.*
        # extraction fails analysis — return an empty, correctly-typed frame
        return df.select(
            F.lit(None).cast("long").alias("query_id"),
            F.col(id_col).cast("long").alias("id"),
            F.lit(None).cast("double").alias("adc_dist"),
            F.lit(None).cast("int").alias("rank"),
        ).limit(0)
    w = Window.partitionBy("query_id").orderBy("adc_dist", "id")
    # null-vector rows must not score: their subvector distances are
    # all NULL, the argmin still emits SOME cell, and the phantom row
    # can outrank genuine neighbors (review r5). Filter the source
    # vector — same contract as pq_train's isNotNull guard.
    nn = df.where(F.col(vec_col).isNotNull())
    enc = pq_encode(nn, codebooks, vec_col, id_col, scale)
    # ONE corpus scan scores every query: each row emits an array of
    # (query_id, adc_dist) structs — q·m LUT lookups per row — and an
    # explode_outer turns it into the scored relation. No per-query
    # branches, no union, one codegen'd pass.
    entries = []
    for qr in qrows:
        qv = [_quantize_half_away(float(x), scale) for x in qr["qv"]]
        entries.append(
            F.struct(
                F.lit(int(qr["query_id"])).alias("query_id"),
                _pq_adc_dist(qv, codebooks, sub_d).alias("adc_dist"),
            )
        )
    scored = (
        enc.select("id", F.explode_outer(F.array(*entries)).alias("e"))
        .filter(F.col("e").isNotNull())
        .select(F.col("e.query_id").alias("query_id"), "id", F.col("e.adc_dist").alias("adc_dist"))
    )
    return scored.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= k
    )


def ann_recall(
    approx: DataFrame,
    exact: DataFrame,
    k: int,
    query_col: str = "query_id",
    id_col: str = "id",
) -> DataFrame:
    """Recall@k of an approximate top-k result against the exact top-k —
    the evaluation loop every ANN deployment needs before trading
    brute-force for an index (tune nprobe / num_planes / PQ m,k until
    measured recall clears the product bar).

    Both inputs are (query_id, id, …, rank) frames as produced by every
    top-k operator in this module (``brute_force_topk``, ``lsh_topk``,
    ``ivf_seeded_topk``, ``ivf_search_index``, ``pq_search``). Recall is
    |approx∩exact| / |exact| per query (exact side defines the
    denominator, so truncated approx results read as misses, and queries
    the index dropped entirely still appear with recall 0.0).

    Scale: two rank filters + one equi-join on (query, id) + a per-query
    count — the joined relation is ≤ queries×k rows regardless of corpus
    size; nothing touches the corpus itself.

    Returns (query_id, n_hit, n_exact, recall) rounded to 6dp."""
    a = approx.filter(F.col("rank") <= k).select(
        F.col(query_col).cast("long").alias("query_id"),
        F.col(id_col).cast("long").alias("id"),
    )
    e = exact.filter(F.col("rank") <= k).select(
        F.col(query_col).cast("long").alias("query_id"),
        F.col(id_col).cast("long").alias("id"),
    )
    hits = a.join(e, ["query_id", "id"]).groupBy("query_id").agg(
        F.count(F.lit(1)).alias("n_hit")
    )
    denom = e.groupBy("query_id").agg(F.count(F.lit(1)).alias("n_exact"))
    return (
        denom.join(hits, "query_id", "left")
        .select(
            "query_id",
            F.coalesce("n_hit", F.lit(0)).alias("n_hit"),
            "n_exact",
            F.round(
                F.coalesce("n_hit", F.lit(0)) / F.col("n_exact"), 6
            ).alias("recall"),
        )
    )


def ivfpq_search(
    df: DataFrame,
    queries: DataFrame,
    k: int = 10,
    num_cells: int = 16,
    nprobe: int = 2,
    m: int = 2,
    pq_k: int = 16,
    iters: int = 1,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    query_id_col: str = "query_id",
    scale: float = 1e6,
    codebooks: list[list[tuple[int, list[float]]]] | None = None,
    residual: bool = False,
) -> DataFrame:
    """IVF-PQ: the standard billion-scale ANN layout (FAISS ``IVFx,PQy``)
    — a coarse quantizer prunes the search to ``nprobe`` cells, and
    distance within them is the PQ asymmetric-distance (ADC) table
    lookup over m-byte codes instead of a full-dim scan. This is the
    composition that serves web-scale retrieval: IVF bounds the
    candidates, PQ bounds the bytes per candidate.

    Deterministic end to end: coarse centroids are the ``num_cells``
    lowest-id non-null vectors (:func:`_seed_cells`; cells and probes
    come from :func:`_nearest_cells`, as in ``ivf_seeded_topk``), PQ
    codebooks come from :func:`pq_train` (quantized-long Lloyd
    rounds), and ADC scores quantize to 1e-6 before ranking — the whole
    train→assign→probe→score chain hash-certifies against a relational
    oracle.

    Plan: ONE combined map pass computes each corpus vector's coarse
    cell AND its m PQ codes (a single projection — the vector is read
    once); per query the probed-cell set and the m·pq_k LUT entries
    inline as literals, so scoring is a codegen'd scan of the
    (id, cell, codes) relation with an ``array_contains`` prune —
    corpus vectors are never touched after encoding.

    ``residual=True`` is the canonical FAISS refinement: PQ trains on
    and encodes the RESIDUAL ``x − centroid(cell(x))`` instead of the
    raw vector — residual norms are much smaller, so the same code
    budget quantizes far more finely (better recall at equal
    m·log2(k) bits). Query-side each probed cell gets its OWN LUT over
    ``q − centroid(cell)`` (q·nprobe literal LUT sets, still tiny).
    Both modes hash-certify; a supplied ``codebooks`` must match the
    chosen mode.

    Returns (query_id, id, adc_dist, rank), rank ≤ k per query."""
    cents = _seed_cells(df, vec_col, id_col, num_cells)
    if residual:
        # __x becomes the grid-quantized residual x − centroid(cell);
        # every PQ stage below then runs unchanged on it. The RAW
        # residual is checkpointed so default training reuses THIS
        # assignment pass instead of redoing the corpus-scale
        # crossJoin+window inside ivfpq_train_residual (review r5 #4 —
        # the module's read-once contract).
        res = _residual_frame(df, vec_col, id_col, cents).localCheckpoint(eager=True)
        if codebooks is None:
            codebooks = pq_train(
                res, "__rv", "id", m=m, k=pq_k, iters=iters, scale=scale
            )
        assigned = res.select(
            "id",
            "cell",
            F.transform(
                F.col("__rv"),
                lambda x: F.round(x * F.lit(float(scale))) / F.lit(float(scale)),
            ).alias("__x"),
        )
    else:
        # combined pass: coarse cell via full-vector argmin + PQ codes from
        # the SAME materialized (sub)vectors — the corpus is read once.
        # Null vectors drop up front (pq_train's contract): without the
        # guard they'd take rn=1 at the lowest cell (NULL d2 sorts first)
        # and score as phantom candidates (review r5).
        qx = F.transform(
            F.col(vec_col).cast("array<double>"),
            lambda x: F.round(x * F.lit(float(scale))) / F.lit(float(scale)),
        )
        base = df.select(
            F.col(id_col).cast("long").alias("id"),
            F.col(vec_col).cast("array<double>").alias("v"),
            qx.alias("__x"),
        ).where(F.col("v").isNotNull())
        if codebooks is None:
            codebooks = pq_train(
                df, vec_col, id_col, m=m, k=pq_k, iters=iters, scale=scale
            )
        assigned = _nearest_cells(base, "id", "v", cents, 1).select("id", "__x", "cell")
    sub_d = len(codebooks[0][0][1])
    enc = _pq_codes_from(assigned, codebooks, extra=("cell",))

    q = queries.select(
        F.col(query_id_col).cast("long").alias("query_id"),
        F.col(vec_col).cast("array<double>").alias("qv"),
    )
    probes = _nearest_cells(q, "query_id", "qv", cents, nprobe)
    prows = probes.collect()
    by_query: dict[int, dict] = {}
    for r in prows:
        e = by_query.setdefault(
            int(r["query_id"]), {"cells": [], "qv": r["qv"]}
        )
        e["cells"].append(int(r["cell"]))
    entries = []
    if residual:
        crows = {int(r["cell"]): list(r["cv"]) for r in cents.collect()}
        for qid, info in sorted(by_query.items()):
            for cell in sorted(info["cells"]):
                cv = crows[cell]
                qv = [
                    _quantize_half_away(float(x) - float(b), scale)
                    for x, b in zip(info["qv"], cv)
                ]
                entries.append(
                    F.struct(
                        F.lit(qid).alias("query_id"),
                        (F.col("cell") == F.lit(cell)).alias("probed"),
                        _pq_adc_dist(qv, codebooks, sub_d).alias("adc_dist"),
                    )
                )
    else:
        for qid, info in sorted(by_query.items()):
            qv = [_quantize_half_away(float(x), scale) for x in info["qv"]]
            cells_lit = F.array(*[F.lit(c) for c in sorted(info["cells"])])
            entries.append(
                F.struct(
                    F.lit(qid).alias("query_id"),
                    F.array_contains(cells_lit, F.col("cell")).alias("probed"),
                    _pq_adc_dist(qv, codebooks, sub_d).alias("adc_dist"),
                )
            )
    if not entries:
        # empty query side (see pq_search): avoid array<void> analysis failure
        return enc.select(
            F.lit(None).cast("long").alias("query_id"),
            "id",
            F.lit(None).cast("double").alias("adc_dist"),
            F.lit(None).cast("int").alias("rank"),
        ).limit(0)
    scored = (
        enc.select("id", "cell", "codes", F.explode_outer(F.array(*entries)).alias("e"))
        .filter(F.col("e").isNotNull() & F.col("e.probed"))
        .select(
            F.col("e.query_id").alias("query_id"), "id", F.col("e.adc_dist").alias("adc_dist")
        )
    )
    wr = Window.partitionBy("query_id").orderBy("adc_dist", "id")
    return scored.withColumn("rank", F.row_number().over(wr)).filter(
        F.col("rank") <= k
    )


def ivfpq_train_residual(
    df: DataFrame,
    num_cells: int = 16,
    m: int = 2,
    pq_k: int = 16,
    iters: int = 1,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    scale: float = 1e6,
) -> list[list[tuple[int, list[float]]]]:
    """PQ codebooks over coarse-cell RESIDUALS ``x − centroid(cell(x))``
    — the training half of residual IVF-PQ (``ivfpq_search(residual=
    True)``). The residual frame is :func:`_residual_frame` over the
    :func:`_seed_cells` centroids, the one ``ivfpq_search`` encodes;
    training is the standard :func:`pq_train` on it, so the determinism
    contract (quantized-long sums, lowest-id init) is inherited
    verbatim."""
    res = _residual_frame(df, vec_col, id_col, _seed_cells(df, vec_col, id_col, num_cells))
    return pq_train(res, "__rv", "id", m=m, k=pq_k, iters=iters, scale=scale)


def l2_normalize(col: "F.Column") -> "F.Column":
    """Unit-normalize an array<double> vector column (zero vectors pass
    through unchanged rather than dividing by zero). Same sequential
    fold as ``cosine_sim``'s denominator, so normalize-then-dot equals
    cosine bit-for-bit."""
    norm = F.sqrt(
        F.aggregate(col, F.lit(0.0), lambda acc, x: acc + x * x)
    )
    return F.when(norm > 0, F.transform(col, lambda x: x / norm)).otherwise(col)


def pool_embeddings(
    df: DataFrame,
    group_col: str,
    vec_col: str = "embedding",
    mode: str = "mean",
    normalize: bool = False,
) -> DataFrame:
    """Pool many vectors into one per group — the chunk→document rollup
    of a RAG/retrieval pipeline (documents are embedded chunk-wise; the
    document-level vector is the mean or max of its chunks).

    Determinism: mean pooling sums per-dimension 1e-6-QUANTIZED longs
    (exact, order-independent — the same trick as kmeans_vec's centroid
    sums) before dividing by the group count; max picks existing values.
    Plan: posexplode to (group, dim, value) — one shuffle keyed by
    (group, dim), partial aggregation map-side — then one small
    collect_list sorted by dim position per group. No UDFs, no driver
    loops.

    Returns (group, n_vectors, pooled array<double>), mean values
    rounded to 6dp."""
    if mode not in ("mean", "max"):
        raise ValueError(f"mode must be 'mean' or 'max', got {mode!r}")
    base = df.select(
        F.col(group_col).alias("group"),
        F.posexplode(F.col(vec_col).cast("array<double>")).alias("pos", "x"),
    )
    if mode == "mean":
        per_dim = base.groupBy("group", "pos").agg(
            F.count(F.lit(1)).alias("__n"),
            F.sum(F.round(F.col("x") * 1e6).cast("long")).alias("__qs"),
        ).select(
            "group",
            "pos",
            "__n",
            F.round(F.col("__qs") / F.col("__n") / F.lit(1e6), 6).alias("__v"),
        )
    else:
        per_dim = base.groupBy("group", "pos").agg(
            F.count(F.lit(1)).alias("__n"), F.max("x").alias("__v")
        )
    pooled = (
        per_dim.groupBy("group")
        .agg(
            F.max("__n").alias("__nv"),
            F.array_sort(
                F.collect_list(F.struct(F.col("pos"), F.col("__v")))
            ).alias("__pv"),
        )
        .select(
            "group",
            F.col("__nv").cast("long").alias("__nv"),
            F.transform(F.col("__pv"), lambda e: e["__v"]).alias("pooled"),
        )
    )
    # every input group survives: groups whose vectors are all NULL or
    # empty report n_vectors=0 and pooled=NULL instead of vanishing —
    # a caller reconciling "every document got a pooled vector" must
    # SEE the missing-embedding groups (review r5 #8)
    all_groups = df.select(F.col(group_col).alias("group")).distinct()
    out = (
        all_groups.join(pooled, "group", "left")
        .select(
            "group",
            F.coalesce(F.col("__nv"), F.lit(0)).cast("long").alias("n_vectors"),
            "pooled",
        )
    )
    if normalize:
        out = out.withColumn(
            "pooled",
            F.when(
                F.col("pooled").isNotNull(), l2_normalize(F.col("pooled"))
            ),
        )
    return out


def embedding_drift(
    current: DataFrame,
    baseline: DataFrame,
    vec_col: str = "embedding",
    top_k: int | None = None,
) -> DataFrame:
    """Per-DIMENSION drift between two embedding snapshots — the
    regression check after an embedding-model update or re-embedding
    run: a handful of shifted dimensions (or a global norm change)
    silently degrades every downstream ANN/dedup/clustering result
    long before any end metric notices.

    Per dimension: mean and std on both sides (exact quantized-long
    sums — order-independent, hash-certifiable) and the standardized
    shift |mean_cur − mean_base| / pooled_std; a zero-variance dimension
    whose mean moved reports shift = +inf (a constant dim that shifted
    is the LOUDEST drift, not a zero — review-of-review), and only a
    truly unchanged constant dim reports 0.
    One posexplode + (dim)-keyed aggregate per side; dims are few, the
    shuffle is tiny regardless of corpus size.

    Returns (pos, mean_base, mean_cur, std_base, std_cur, shift),
    optionally truncated to the ``top_k`` most-shifted dimensions
    (shift DESC, pos)."""
    def side(df: DataFrame, tag: str) -> DataFrame:
        ex = df.select(
            F.posexplode(F.col(vec_col).cast("array<double>")).alias("pos", "x")
        )
        q = F.round(F.col("x") * 1e6).cast("long")
        qq = F.round(F.col("x") * F.col("x") * 1e6).cast("long")
        return ex.groupBy("pos").agg(
            F.count(F.lit(1)).alias(f"__n_{tag}"),
            F.sum(q).alias(f"__s_{tag}"),
            F.sum(qq).alias(f"__ss_{tag}"),
        )

    j = side(current, "c").join(side(baseline, "b"), "pos")
    mean = lambda t: F.col(f"__s_{t}") / F.col(f"__n_{t}") / 1e6  # noqa: E731
    var = lambda t: F.greatest(  # noqa: E731
        F.col(f"__ss_{t}") / F.col(f"__n_{t}") / 1e6
        - (F.col(f"__s_{t}") / F.col(f"__n_{t}") / 1e6)
        * (F.col(f"__s_{t}") / F.col(f"__n_{t}") / 1e6),
        F.lit(0.0),
    )
    pooled = F.sqrt((var("c") + var("b")) / 2)
    out = j.select(
        "pos",
        F.round(mean("b"), 6).alias("mean_base"),
        F.round(mean("c"), 6).alias("mean_cur"),
        F.round(F.sqrt(var("b")), 6).alias("std_base"),
        F.round(F.sqrt(var("c")), 6).alias("std_cur"),
        F.round(
            F.when(pooled > 0, F.abs(mean("c") - mean("b")) / pooled)
            .when(F.abs(mean("c") - mean("b")) > 0, F.lit(float("inf")))
            .otherwise(F.lit(0.0)),
            6,
        ).alias("shift"),
    )
    if top_k:
        w = Window.orderBy(F.desc("shift"), "pos")
        out = (
            out.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") <= top_k)
            .drop("__rn")
        )
    return out
