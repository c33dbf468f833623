"""Exact distributed k-nearest-neighbors and Local Outlier Factor.

Reference surface: anomaly/ml_based.py:445 LOFValidator fits sklearn LOF
on a driver-side sample — a single-node approximation. This module
computes EXACT LOF distributed, the same way clustering.dbscan replaced
sampled sklearn DBSCAN:

1. **kNN via grid + radius doubling.** Round t grids every point at cell
   size r = h·2^t; any point within distance r of p lies in p's 3^d cell
   neighborhood, so if p finds ≥ k candidates with d ≤ r there, its TRUE
   k-nearest neighbors are among them — p resolves, emitting its k-dist
   and all neighbors with d ≤ k-dist (LOF's N_k includes distance ties).
   Unresolved points go to the next round with r doubled; resolved points
   leave the frontier. Each round shuffles only (cell-key join) the
   frontier × grid — never an O(n²) pair space. The initial h comes from
   global min/max aggregates (deterministic, partition-independent).
2. **LOF as relational algebra over the kNN edge list.**
   reach-dist_k(p,o) = max(k-dist(o), d(p,o)); lrd(p) = 1/mean reach;
   LOF(p) = mean(lrd(o))/lrd(p). Every mean sums FIXED-POINT QUANTIZED
   longs (round(x·10⁶)) — exact, addition-order-independent sums, so the
   distributed result is bit-identical to a sequential SQL engine and a
   DuckDB oracle can hash-certify the whole pipeline (the same
   determinism contract as clustering.kmeans).

Degenerate densities: a point whose neighbors are all EXACT duplicates
of it has mean reach 0 → lrd NULL → its LOF and its neighbors' LOF
contributions are NULL (documented, deterministic; mirrors 1/0 → NULL in
SQL). Filter nulls or pre-dedup if duplicates are expected.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

__all__ = ["knn_edges", "lof", "lof_from_edges", "lof_embeddings"]

_SCALE = 1e6


def knn_edges(
    df: DataFrame,
    feature_cols: list[str],
    k: int = 10,
    id_col: str | None = None,
    max_rounds: int = 40,
) -> tuple[DataFrame, DataFrame]:
    """Exact kNN: returns ``(edges, kdist)`` where edges = (id, nbr, d)
    for every neighbor with d ≤ k-dist(id) (ties included — LOF's N_k),
    and kdist = (id, k_dist). Distances are Euclidean, computed once per
    candidate pair inside a cell neighborhood."""
    from itertools import product

    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    d = len(feature_cols)
    if d == 0:
        raise ValueError("feature_cols must name at least one column")
    if d > 4:
        raise ValueError(f"knn_edges supports up to 4 dimensions, got {d}")

    xs = [f"x{i}" for i in range(d)]
    pts = (
        df.select(
            (
                F.col(id_col).cast("long")
                if id_col
                else F.monotonically_increasing_id()
            ).alias("id"),
            *[F.col(c).cast("double").alias(x) for c, x in zip(feature_cols, xs)],
        )
        .na.drop(subset=xs)
        .localCheckpoint(eager=True)
    )
    n = pts.count()
    if n <= k:
        raise ValueError(f"need more than k={k} points, got {n}")
    # initial resolution from global extents: expected k neighbors per
    # cell when density is uniform; deterministic (exact min/max aggs)
    ext = pts.agg(
        *[F.max(x) - F.min(x) for x in xs],
    ).collect()[0]
    spread = max([float(v) for v in ext] + [1e-12])
    h = max(spread * (float(k + 1) / n) ** (1.0 / d), 1e-12)

    offsets = F.array(
        *[
            F.struct(*[F.lit(o).alias(f"o{i}") for i, o in enumerate(offs)])
            for offs in product((-1, 0, 1), repeat=d)
        ]
    )
    dist2 = sum(
        (F.col(f"a{i}") - F.col(f"b{i}")) * (F.col(f"a{i}") - F.col(f"b{i}"))
        for i in range(d)
    )

    frontier = pts
    edges_parts: list[DataFrame] = []
    kdist_parts: list[DataFrame] = []
    r = h
    for _ in range(max_rounds):
        cs = [F.floor(F.col(x) / F.lit(r)).alias(f"c{i}") for i, x in enumerate(xs)]
        left = (
            frontier.select("id", *xs, *cs)
            .withColumn("off", F.explode(offsets))
            .select(
                F.col("id").alias("id_a"),
                *[F.col(x).alias(f"a{i}") for i, x in enumerate(xs)],
                *[
                    (F.col(f"c{i}") + F.col(f"off.o{i}")).alias(f"n{i}")
                    for i in range(d)
                ],
            )
        )
        right = pts.select(
            F.col("id").alias("id_b"),
            *[F.col(x).alias(f"b{i}") for i, x in enumerate(xs)],
            *[F.floor(F.col(x) / F.lit(r)).alias(f"m{i}") for i, x in enumerate(xs)],
        )
        cand = (
            left.join(
                right,
                [F.col(f"n{i}") == F.col(f"m{i}") for i in range(d)]
                + [F.col("id_a") != F.col("id_b")],
            )
            .select("id_a", "id_b", F.sqrt(dist2).alias("d"))
            .filter(F.col("d") <= F.lit(r))
        )
        # k-dist within radius r; points with >= k in-radius candidates
        # have their TRUE kNN fully inside the 3^d neighborhood.
        # ONE window pass over the candidate relation (r14, guide §2.4):
        # the previous join-back form (cand ⋈ kth) referenced the
        # unpersisted cand subtree three times per round — the cell join
        # executed once under the rank window, again as the join's left
        # side, and a third time for kth's own checkpoint. The k-dist now
        # rides the SAME sorted window partition as the rank
        # (max(case rn=k then d) over (partition by id_a)), so the cell
        # join runs once, checkpointed once; kth and the edge list are
        # narrow reads of that checkpoint. Values are unchanged: k_dist
        # is the same k-th distance, the edge set is the same d ≤ k_dist
        # rows (the rn=k row has d = k_dist, so the filter keeps it).
        from pyspark.sql import Window

        w = Window.partitionBy("id_a").orderBy("d", "id_b")
        wall = Window.partitionBy("id_a")
        combined = (
            cand.withColumn("__rn", F.row_number().over(w))
            .withColumn(
                "k_dist",
                F.max(F.when(F.col("__rn") == k, F.col("d"))).over(wall),
            )
            .filter(F.col("k_dist").isNotNull() & (F.col("d") <= F.col("k_dist")))
            .localCheckpoint(eager=True)
        )
        kth = combined.filter(F.col("__rn") == k).select(
            F.col("id_a").alias("id"), F.col("k_dist")
        )
        resolved_edges = combined.select(
            F.col("id_a").alias("id"), F.col("id_b").alias("nbr"), "d"
        )
        edges_parts.append(resolved_edges)
        kdist_parts.append(kth)
        frontier = frontier.join(kth, "id", "left_anti").localCheckpoint(eager=True)
        if frontier.isEmpty():
            break
        r *= 2
    else:
        raise RuntimeError(
            f"knn_edges did not resolve all points in {max_rounds} rounds"
        )
    edges = edges_parts[0]
    for e in edges_parts[1:]:
        edges = edges.unionByName(e)
    kdist = kdist_parts[0]
    for kd in kdist_parts[1:]:
        kdist = kdist.unionByName(kd)
    return edges, kdist


def lof(
    df: DataFrame,
    feature_cols: list[str],
    k: int = 10,
    id_col: str | None = None,
) -> DataFrame:
    """Exact distributed Local Outlier Factor.

    Returns (id, lof) — LOF ≈ 1 for inliers, ≫ 1 for density outliers.
    NULL lof marks degenerate all-duplicate neighborhoods (see module
    docstring). Quantized-long means keep the floats engine-reproducible.
    """
    edges, kdist = knn_edges(df, feature_cols, k, id_col)
    return lof_from_edges(edges, kdist)


def lof_from_edges(edges: DataFrame, kdist: DataFrame) -> DataFrame:
    """The LOF density chain over ANY kNN edge list: reach-dist → lrd →
    LOF, with quantized-long means (engine-reproducible floats). Shared
    by the exact grid kNN (``lof``) and the LSH-approximate embedding
    variant (``lof_embeddings``). ``edges`` = (id, nbr, d);
    ``kdist`` = (id, k_dist)."""
    reach = (
        edges.join(
            kdist.select(F.col("id").alias("nbr"), F.col("k_dist").alias("kd_o")),
            "nbr",
        )
        .select(
            "id",
            "nbr",
            F.round(F.greatest(F.col("kd_o"), F.col("d")) * F.lit(_SCALE))
            .cast("long")
            .alias("qreach"),
        )
    )
    lrd = reach.groupBy("id").agg(
        (F.count(F.lit(1)).cast("double") * F.lit(_SCALE) / F.nullif(F.sum("qreach").cast("double"), F.lit(0.0))).alias(
            "lrd"
        )
    )
    # qlrd feeds BOTH the neighbor-mean join and the final ratio join —
    # without a checkpoint the reach join + lrd aggregation execute twice
    # (r14, guide §2.4). O(n) rows of (id, qlrd, lrd): safe to pin.
    qlrd = lrd.select(
        "id", F.round(F.col("lrd") * F.lit(_SCALE)).cast("long").alias("qlrd"), "lrd"
    ).localCheckpoint(eager=True)
    nbr_lrd = (
        edges.join(
            qlrd.select(F.col("id").alias("nbr"), F.col("qlrd").alias("qlrd_o")),
            "nbr",
        )
        .groupBy("id")
        .agg(
            (
                F.sum("qlrd_o").cast("double")
                / F.count("qlrd_o")
                / F.lit(_SCALE)
            ).alias("mean_lrd_o")
        )
    )
    return (
        qlrd.join(nbr_lrd, "id", "left")
        .select("id", (F.col("mean_lrd_o") / F.col("lrd")).alias("lof"))
    )


def lof_embeddings(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    k: int = 5,
    num_planes: int = 8,
    num_bands: int = 4,
    seed: int = 42,
) -> DataFrame:
    """APPROXIMATE LOF for high-dimensional embeddings: kNN candidates
    come from banded sign-LSH buckets (the embedding_near_duplicates
    construction — OR over ``num_bands`` independent ``num_planes``-plane
    sets), each point's k nearest CANDIDATES stand in for its true kNN,
    and the exact LOF density chain (``lof_from_edges``) runs over that
    edge list.

    The grid-exact ``lof`` is the right tool up to 4 dimensions; in
    embedding space exact kNN is itself approximated in practice, and LOF
    over LSH-kNN is the standard scalable form. Approximation is ONLY in
    neighbor selection — deterministic (seeded planes, (d, id)
    tie-breaks), so a SQL oracle can still hash-certify the output.
    Points sharing no bucket with anyone have no neighbors → NULL lof
    (isolated-by-LSH; raise num_bands for more recall).

    Returns (id, lof) with one row per input vector."""
    from truthound_spark.pipeline.dedup import _bucket_pairs
    from truthound_spark.pipeline.similarity import (
        _vector_dim,
        l2_sq,
        sign_lsh_band_entries,
    )
    from pyspark.sql import Window

    dim = _vector_dim(df, vec_col)
    v = df.select(
        F.col(id_col).cast("long").alias("id"),
        F.col(vec_col).cast("array<double>").alias("v"),
    )
    pairs, _ = _bucket_pairs(
        sign_lsh_band_entries(v, dim, num_planes, num_bands, seed), None
    )
    # DIRECTED candidate pairs (both orientations), deduped across bands
    cands = pairs.select(
        F.inline(
            F.array(
                F.struct("id_a", "id_b"),
                F.struct(F.col("id_b").alias("id_a"), F.col("id_a").alias("id_b")),
            )
        )
    ).dropDuplicates()
    a = v.select(F.col("id").alias("id_a"), F.col("v").alias("v_a"))
    b = v.select(F.col("id").alias("id_b"), F.col("v").alias("v_b"))
    scored = (
        cands.join(a, "id_a")
        .join(b, "id_b")
        .select(
            F.col("id_a").alias("id"),
            F.col("id_b").alias("nbr"),
            F.sqrt(l2_sq(F.col("v_a"), F.col("v_b"))).alias("d"),
        )
        .localCheckpoint(eager=True)
    )
    w = Window.partitionBy("id").orderBy("d", "nbr")
    ranked = scored.withColumn("__rn", F.row_number().over(w))
    # k-dist = k-th candidate distance, or the farthest candidate when a
    # point has fewer than k (LSH recall miss — still well-defined)
    kdist = (
        ranked.groupBy("id")
        .agg(F.max(F.when(F.col("__rn") <= k, F.col("d"))).alias("k_dist"))
    )
    edges = (
        scored.join(kdist, "id")
        .filter(F.col("d") <= F.col("k_dist"))
        .select("id", "nbr", "d")
    )
    out = lof_from_edges(edges, kdist)
    return v.select("id").join(out, "id", "left").select("id", "lof")
