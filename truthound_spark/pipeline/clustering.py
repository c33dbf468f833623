"""Distributed density clustering: exact grid-partitioned DBSCAN.

Reference surface: anomaly/ml_based.py:777 runs sklearn DBSCAN on a
driver-side sample and calls the noise points anomalies — a single-node
approximation that silently degrades as data outgrows the sample. This
module instead implements EXACT DBSCAN as a distributed composition of
relational primitives, the standard grid/cell construction (MR-DBSCAN
family):

1. **Grid assignment** — every point lands in a cell of side ``eps``
   (``floor(x_i/eps)`` per dimension). Any two points within ``eps`` are
   in the same or an adjacent cell, so candidate pairs only need a join
   between a point's 3^d neighbor cells and the cell index — an
   equi-join on cell coordinates (hash-partitioned, no cross join),
   filtered by the exact squared distance.
2. **Core points** — neighbor counts from one ``groupBy(id)``; a point is
   core when |N_eps(p)| >= min_pts (count includes the point itself).
3. **Clusters** — connected components over the core-core edge subgraph,
   reusing :func:`truthound_spark.pipeline.dedup.connected_components`
   (min-label propagation + pointer jumping, localCheckpoint per round).
   cluster_id = min core id of the component → fully deterministic.
4. **Border points** — non-core points adopt the MIN cluster id among
   their in-range cores (deterministic tie-break; textbook DBSCAN leaves
   this arbitrary). Points with no core neighbor are noise
   (``cluster_id`` null).

Everything is DataFrame algebra: the only shuffles are the cell-key join,
the degree groupBy, and the component rounds over (long, long) label
tables. At 100 TB the cell join partitions by spatial locality, so dense
regions parallelize across cells; a single pathologically dense cell is
inherently quadratic in ANY exact DBSCAN — cap it upstream by sampling or
raise ``eps`` resolution.

Determinism note: distances compare as ``dist² <= eps²`` with one
floating-point rounding per term — reproducible bit-for-bit across
engines, which is what lets a SQL oracle certify the whole pipeline.
"""

from __future__ import annotations

from itertools import product

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from truthound_spark.litexpr import sql_double
from truthound_spark.pipeline.dedup import connected_components
from truthound_spark.pipeline.similarity import pq_encode, pq_train

__all__ = ["dbscan", "kmeans", "kmeans_vec"]


def kmeans_vec(
    df: DataFrame,
    vec_col: str = "embedding",
    k: int = 16,
    iters: int = 3,
    id_col: str = "vec_id",
    scale: float = 1e6,
) -> tuple[DataFrame, "DataFrame"]:
    """:func:`kmeans` over an ``array<float/double>`` column — the
    production clustering step for SemDeDup / IVF over embeddings.

    Same determinism contract as ``kmeans`` (fixed-point quantized sums,
    k-lowest-id init, (dist, cell) argmin tie-break), with the distance
    in the l2 dot-product fold form (``dot(x,x) − 2·dot(x,c) +
    dot(c,c)``, sequential left-to-right — the form a SQL engine's
    list_dot_product reproduces bit-for-bit). It is one-subspace product
    quantization: the Lloyd rounds are
    :func:`truthound_spark.pipeline.similarity.pq_train` at ``m=1`` (per
    iteration one cached narrow scan, a literal-array argmin projection
    and ONE groupBy of d per-dimension long sums + a count — k rows
    shuffled) and the final assignment is
    :func:`~truthound_spark.pipeline.similarity.pq_encode` of the
    non-null vectors under the final centroids.

    Returns ``(assignment, centroids)``: assignment = (id, cluster);
    centroids = (cell, cv) DataFrame ready to feed
    ``semantic_dedup(centroids=…)``.
    """
    if iters < 0:
        raise ValueError(f"iters must be >= 0, got {iters}")
    (cents,) = pq_train(df, vec_col, id_col, m=1, k=k, iters=iters, scale=scale)
    nn = df.where(F.col(vec_col).isNotNull())
    assignment = pq_encode(nn, [cents], vec_col, id_col, scale).select(
        "id", F.col("codes")[0].cast("long").alias("cluster")
    )
    cent_df = df.sparkSession.createDataFrame(
        [(ci, c) for ci, c in cents], "cell long, cv array<double>"
    )
    return assignment, cent_df


def kmeans(
    df: DataFrame,
    feature_cols: list[str],
    k: int,
    iters: int = 3,
    id_col: str | None = None,
    scale: float = 1e6,
) -> tuple[DataFrame, list[tuple[int, list[float]]]]:
    """Distributed Lloyd's k-means with DETERMINISTIC, engine-portable
    arithmetic — the full iterative algorithm, not a sampled approximation
    (reference anomaly/ml_based.py fits sklearn KMeans on a driver-side
    sample; here every iteration sees every row).

    Determinism design (what lets a SQL oracle hash-certify an iterative
    float algorithm):

    * **Quantized sums.** Features are fixed-point quantized once
      (``round(x·scale)`` → long). Centroid updates sum LONGS — exact and
      addition-order-independent — so Spark's partial/final distributed
      aggregation and a sequential engine produce bit-identical centroids
      (``(sum/count)/scale`` is then one double rounding each, the same
      in any IEEE engine). A naive ``avg(double)`` would differ across
      partition counts and engines in the last ulp.
    * **Deterministic init + tie-break.** Initial centroids are the ``k``
      lowest-id points; assignment breaks distance ties on the lowest
      cell id. No RNG anywhere.

    Plan shape per iteration: centroids collect to the driver (k·d
    doubles) and re-enter as LITERAL column math — the distance argmin is
    a pure projection (no join, no Python) — then ONE groupBy(cell) whose
    map-side partials shuffle k rows per task. The quantized point table
    is localCheckpoint'ed once, so iterations re-scan a narrow cached
    projection, never the source. At 100 TB: iters × (cached scan + k-row
    shuffle). For k ≳ 10⁴ swap literal injection for a broadcast join on
    a centroid table; the aggregation strategy is unchanged.

    Empty clusters simply drop out of the centroid table (both engines'
    GROUP BY omit them) — ids stay sparse and comparisons stay aligned.

    Returns ``(assignment, centroids)``: assignment = one row per input
    row ``(id, cluster)`` under the FINAL centroids; centroids = list of
    ``(cluster_id, vector)``.
    """
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    if iters < 0:
        raise ValueError(f"iters must be >= 0, got {iters}")
    d = len(feature_cols)
    if d == 0:
        raise ValueError("feature_cols must name at least one column")
    qs = [f"q{i}" for i in range(d)]
    pts = (
        df.select(
            (
                F.col(id_col).cast("long")
                if id_col
                else F.monotonically_increasing_id()
            ).alias("id"),
            *[
                F.round(F.col(c).cast("double") * F.lit(float(scale)))
                .cast("long")
                .alias(q)
                for c, q in zip(feature_cols, qs)
            ],
        )
        .na.drop(subset=qs)
        .localCheckpoint(eager=True)
    )

    # dequantized view: EXACTLY representable the same way in any engine
    # (integer / literal), so downstream double math is reproducible
    xs = [(F.col(q) / F.lit(float(scale))).alias(f"x{i}") for i, q in enumerate(qs)]
    pv = pts.select("id", *qs, *xs)

    init = pts.orderBy("id").limit(k).collect()
    # (cell_id, centroid vector as doubles) — cell ids are 0..k-1 by rank
    cents: list[tuple[int, list[float]]] = [
        (ci, [row[q] / scale for q in qs]) for ci, row in enumerate(init)
    ]

    def assign(frame: DataFrame, centroids: list[tuple[int, list[float]]]) -> DataFrame:
        # struct array (dist, cell) → array_min orders by dist then cell:
        # argmin with deterministic lowest-cell tie-break, pure projection.
        # Rendered as ONE SQL expression (r14, litexpr rationale): the
        # k·d literal terms would otherwise cost ~4 py4j round trips each;
        # the string form parses to the identical tree — including the
        # leading `0 +` that Python's sum() prepends, so the float
        # addition order (and thus every bit of every distance) is
        # unchanged.
        entries = ",".join(
            "named_struct('dist', {dist}, 'cell', CAST({ci} AS BIGINT))".format(
                dist=" + ".join(
                    ["0"]
                    + [
                        f"(x{i} - {sql_double(c[i])}) * (x{i} - {sql_double(c[i])})"
                        for i in range(d)
                    ]
                ),
                ci=int(ci),
            )
            for ci, c in centroids
        )
        return frame.withColumn(
            "cluster", F.expr(f"array_min(array({entries}))")["cell"]
        )

    for _ in range(iters):
        agg = (
            assign(pv, cents)
            .groupBy("cluster")
            .agg(
                F.count(F.lit(1)).alias("n"),
                *[F.sum(q).alias(f"s{i}") for i, q in enumerate(qs)],
            )
            .collect()
        )
        # float(s)/float(n) — NOT s/n — replicates a SQL engine's
        # CAST(SUM AS DOUBLE)/COUNT rounding order (Python's int/int is
        # correctly rounded over the exact rational, which can differ in
        # the last ulp once the sum exceeds 2^53); choose ``scale`` so
        # Σ|q| stays below 2^63 (long sum) for exactness
        cents = sorted(
            (
                (
                    int(row["cluster"]),
                    [(float(row[f"s{i}"]) / float(row["n"])) / scale for i in range(d)],
                )
                for row in agg
            ),
            key=lambda t: t[0],
        )

    return assign(pv, cents).select("id", "cluster"), cents


def dbscan(
    df: DataFrame,
    feature_cols: list[str],
    eps: float,
    min_pts: int,
    id_col: str | None = None,
    max_iterations: int = 25,
) -> DataFrame:
    """Exact distributed DBSCAN.

    Returns ``(id, is_core, cluster_id)`` — one row per input row with
    non-null features. ``cluster_id`` is the minimum member id of the
    density-connected component (null = noise). ``id_col`` must be unique
    and castable to long; when omitted, a stable id is derived from
    ``monotonically_increasing_id`` (partition-stable, NOT reproducible
    across different partitionings — prefer an explicit id).
    """
    if eps <= 0:
        raise ValueError(f"eps must be positive, got {eps}")
    if min_pts < 1:
        raise ValueError(f"min_pts must be >= 1, got {min_pts}")
    d = len(feature_cols)
    if d == 0:
        raise ValueError("feature_cols must name at least one column")
    if d > 4:
        # 3^d neighbor cells per point — the grid construction stops
        # paying for itself; reduce dimensionality first
        raise ValueError(f"dbscan supports up to 4 dimensions, got {d}")

    xs = [f"x{i}" for i in range(d)]
    cs = [f"c{i}" for i in range(d)]
    pts = df.select(
        (
            F.col(id_col).cast("long")
            if id_col
            else F.monotonically_increasing_id()
        ).alias("id"),
        *[F.col(c).cast("double").alias(x) for c, x in zip(feature_cols, xs)],
    ).na.drop(subset=xs)
    pts = pts.select(
        "id", *xs, *[F.floor(F.col(x) / F.lit(float(eps))).alias(c) for x, c in zip(xs, cs)]
    )

    # Candidate pairs: left side exploded over its 3^d neighbor cells,
    # right side keyed by its own cell — equi-join on the d cell coords.
    offsets = F.array(
        *[
            F.struct(*[F.lit(o).alias(f"o{i}") for i, o in enumerate(offs)])
            for offs in product((-1, 0, 1), repeat=d)
        ]
    )
    left = (
        pts.withColumn("off", F.explode(offsets))
        .select(
            F.col("id").alias("id_a"),
            *[F.col(x).alias(f"a{i}") for i, x in enumerate(xs)],
            *[
                (F.col(c) + F.col(f"off.o{i}")).alias(f"n{i}")
                for i, c in enumerate(cs)
            ],
        )
    )
    right = pts.select(
        F.col("id").alias("id_b"),
        *[F.col(x).alias(f"b{i}") for i, x in enumerate(xs)],
        *[F.col(c).alias(f"m{i}") for i, c in enumerate(cs)],
    )
    dist2 = sum(
        (F.col(f"a{i}") - F.col(f"b{i}")) * (F.col(f"a{i}") - F.col(f"b{i}"))
        for i in range(d)
    )
    pairs = (
        left.join(
            right,
            [F.col(f"n{i}") == F.col(f"m{i}") for i in range(d)]
            + [F.col("id_a") != F.col("id_b")],
        )
        .filter(dist2 <= F.lit(float(eps) * float(eps)))
        .select("id_a", "id_b")
    )
    # Directed: (a,b) AND (b,a) both appear (each found via the other's
    # neighbor-cell explosion), so one groupBy(id_a) counts full degree.
    pairs = pairs.localCheckpoint(eager=True)  # reused 3x below

    degree = pairs.groupBy("id_a").agg(F.count(F.lit(1)).alias("nbrs"))
    labeled = pts.select("id").join(
        degree, pts["id"] == degree["id_a"], "left"
    ).select(
        "id",
        (F.coalesce(F.col("nbrs"), F.lit(0)) + F.lit(1) >= F.lit(min_pts)).alias(
            "is_core"
        ),
    )

    cores = labeled.filter("is_core").select("id")
    core_edges = (
        pairs.join(cores.withColumnRenamed("id", "id_a"), "id_a", "left_semi")
        .join(cores.withColumnRenamed("id", "id_b"), "id_b", "left_semi")
        .filter(F.col("id_a") < F.col("id_b"))
    )
    if core_edges.isEmpty():
        # every core is its own singleton cluster; everything else is noise
        comp = cores.select("id", F.col("id").alias("cluster_id"))
    else:
        cc = connected_components(
            core_edges, "id_a", "id_b", max_iterations=max_iterations
        )
        comp = (
            cores.join(cc, "id", "left")
            .select("id", F.coalesce("cluster_id", "id").alias("cluster_id"))
        )

    # Border points: min cluster among in-range cores; others are noise.
    border = (
        pairs.join(
            comp.withColumnRenamed("id", "id_b"), "id_b"
        )
        .groupBy("id_a")
        .agg(F.min("cluster_id").alias("border_cluster"))
        .withColumnRenamed("id_a", "id")
    )
    return (
        labeled.join(comp.withColumnRenamed("cluster_id", "core_cluster"), "id", "left")
        .join(border, "id", "left")
        .select(
            "id",
            "is_core",
            F.when(F.col("is_core"), F.col("core_cluster"))
            .otherwise(F.col("border_cluster"))
            .alias("cluster_id"),
        )
    )
