"""Distributed k-means (Lloyd iterations) over an embedding column.

The training-data use case: cluster document embeddings for semantic
sharding / diversity sampling / semantic-dedup bucketing.  Everything is
DataFrame-native:

- **assignment** is a crossJoin against a BROADCAST centroid dim (C
  centroids, C ≪ n) with a JVM-side squared-L2 over ``zip_with`` — one
  map-side pass, no shuffle of the vector side;
- **recomputation** posexplodes members to (cluster, dim, value) rows and
  averages per (cluster, dim) — a single shuffle whose width is C × dim
  rows, with map-side partial aggregation doing the heavy lifting;
- each iteration's centroids are ROUNDED to ``round_dp`` so the fixpoint
  trajectory is identical across engines/runs (the same discipline as every
  cosine in operators/similarity.py).

At 100 TB: vectors never shuffle — per iteration the data-side cost is one
scan + one (cluster, dim)-keyed partial agg; the driver only ever holds the
C × dim centroid matrix (broadcast each round).  Iterations are bounded and
small (k-means for bucketing converges usefully in a handful of rounds).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from .. import session


def _sq_l2(a: Column, b: Column) -> Column:
    """Squared euclidean distance between two array columns (JVM-side)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x.cast("double") - y.cast("double")) ** 2),
        F.lit(0.0),
        lambda acc, z: acc + z,
    )


def kmeans_assign(vectors: DataFrame, centroids: DataFrame,
                  id_col: str = "vec_id", vec_col: str = "embedding",
                  cen_id_col: str = "cid", cen_vec_col: str = "cv",
                  round_dp: int = 6) -> DataFrame:
    """Nearest-centroid assignment under squared L2.  ``centroids`` is the
    small side (broadcast); ties on the rounded distance break toward the
    smallest centroid id, so the assignment is deterministic across
    engines.  Returns (id, cluster)."""
    # r5: same Arrow-vectorized treatment as similarity.assign_ivf_centroid
    # — the n·C interpreted-HOF crossJoin was the hotspot.  The C-row
    # centroid matrix collects driver-side (bounded by construction) and
    # each batch scores against all centroids in one numpy pass, with the
    # (x−c)² fold accumulated SEQUENTIALLY over the dimension index,
    # matching the old ``_sq_l2`` fold's order.  Caveat (r5 ADVICE): the
    # JVM does not guarantee Math.pow(x, 2) == x*x to the last ulp, so
    # "identical" here rests on the rounded-before-compare discipline
    # (round_dp) absorbing any sub-ulp pow-vs-multiply drift, not on a
    # bitwise guarantee.
    import numpy as np
    import pandas as pd

    cen_rows = centroids.select(
        F.col(cen_id_col).alias("_cid"), F.col(cen_vec_col).alias("_cv")
    ).collect()
    cen_rows.sort(key=lambda r: r["_cid"])
    cid_type = centroids.schema[cen_id_col].dataType.simpleString()
    id_type = vectors.schema[id_col].dataType.simpleString()
    v = vectors.select(F.col(id_col).alias("id"), F.col(vec_col).alias("_v"))
    if not cen_rows:
        return vectors.sparkSession.createDataFrame(
            [], f"id {id_type}, cluster {cid_type}"
        )
    C = np.array([np.asarray(r["_cv"], dtype=np.float64) for r in cen_rows])
    cids = np.array([r["_cid"] for r in cen_rows])
    dim, m = C.shape[1], len(cids)
    scale = 10.0 ** round_dp
    # n·C distance evaluations are CPU-dense per byte — fan a narrow scan
    # out to cluster parallelism (no-op at scale; same guard as
    # similarity.assign_ivf_centroid)
    from ..session import fan_out

    v = fan_out(v)
    row_chunk = max(1, int(4_000_000 // m))

    def run(batches):
        for pdf in batches:
            for lo in range(0, len(pdf), row_chunk):
                part = pdf.iloc[lo : lo + row_chunk]
                if not len(part):
                    continue
                V = np.array(
                    [np.asarray(x, dtype=np.float64) for x in part["_v"]]
                )
                acc = np.zeros((len(part), m))
                for d in range(dim):  # sequential fold — see note above
                    diff = V[:, d : d + 1] - C[None, :, d]
                    acc += diff * diff
                d2 = np.floor(acc * scale + 0.5) / scale  # F.round, d2 >= 0
                # argmin returns the FIRST min; cids sorted asc → ties
                # break to the smallest centroid id, like the old window
                sel = cids[np.argmin(d2, axis=1)]
                yield pd.DataFrame({"id": part["id"].values, "cluster": sel})

    return v.mapInPandas(run, schema=f"id {id_type}, cluster {cid_type}")


def kmeans_recompute(vectors: DataFrame, assign: DataFrame,
                     id_col: str = "vec_id", vec_col: str = "embedding",
                     round_dp: int = 6) -> DataFrame:
    """New centroids = per-cluster elementwise mean, rounded.  The explode
    widens rows ×dim but aggregates immediately (map-side combine), so the
    shuffle carries only (cluster, dim) partials.  Returns (cid, cv)."""
    member = vectors.select(F.col(id_col).alias("id"), F.col(vec_col).alias("_v")).join(
        assign, "id"
    )
    per_dim = (
        member.select("cluster", F.posexplode("_v").alias("pos", "x"))
        .groupBy("cluster", "pos")
        .agg(F.round(F.avg(F.col("x").cast("double")), round_dp).alias("cx"))
    )
    return (
        per_dim.groupBy(F.col("cluster").alias("cid"))
        .agg(F.array_sort(F.collect_list(F.struct("pos", "cx"))).alias("_pairs"))
        .select("cid", F.transform(F.col("_pairs"), lambda p: p["cx"]).alias("cv"))
    )


def kmeans_iterate(vectors: DataFrame, init_centroids: DataFrame,
                   iterations: int = 2, id_col: str = "vec_id",
                   vec_col: str = "embedding", round_dp: int = 6) -> DataFrame:
    """Run ``iterations`` Lloyd rounds from deterministic seed centroids and
    return the final assignment (id, cluster).  ``init_centroids`` must have
    (cid, cv) columns — typically a strided slice of the vectors themselves
    (see the registered query).  Each round's recomputed centroid frame is
    tiny (C rows) but its SUBTREE embeds the previous round's full
    assignment pass — checkpointing it truncates the chain so round k
    costs one assignment + one recompute, not k of each."""
    cen = init_centroids
    assign = None
    for _ in range(iterations):
        assign = kmeans_assign(
            vectors, cen, id_col=id_col, vec_col=vec_col, round_dp=round_dp
        )
        cen = session.materialize(
            kmeans_recompute(vectors, assign, id_col=id_col, vec_col=vec_col, round_dp=round_dp)
        )
    # final assignment against the last recomputed centroids, so the
    # returned clustering reflects every completed round
    return kmeans_assign(vectors, cen, id_col=id_col, vec_col=vec_col,
                         round_dp=round_dp)


def cluster_profile(vectors: DataFrame, assign: DataFrame,
                    centroids: DataFrame, id_col: str = "vec_id",
                    vec_col: str = "embedding", round_dp: int = 4) -> DataFrame:
    """Per-cluster size + inertia (sum of squared distances to the
    centroid) — the convergence/skew diagnostic.  Returns
    (cluster, n_members, inertia)."""
    member = (
        vectors.select(F.col(id_col).alias("id"), F.col(vec_col).alias("_v"))
        .join(assign, "id")
        .join(
            F.broadcast(centroids.select(F.col("cid").alias("cluster"), "cv")),
            "cluster",
        )
    )
    return member.groupBy("cluster").agg(
        F.count("*").alias("n_members"),
        F.round(F.sum(_sq_l2(F.col("_v"), F.col("cv"))), round_dp).alias("inertia"),
    )


# ---------------------------------------------------------------------------
# semantic deduplication (SemDeDup-style canonical selection)
# ---------------------------------------------------------------------------


def semantic_canonical(vectors: DataFrame, centroids: DataFrame,
                       threshold: float = 0.4, id_col: str = "vec_id",
                       vec_col: str = "embedding") -> DataFrame:
    """SemDeDup-style semantic dedup over an embedding column: cluster the
    corpus (nearest-centroid buckets — broadcast dim), find intra-cluster
    cosine near-dup pairs, and map every vector to a canonical
    representative = the smallest id among its direct semantic mates
    (including itself).

    Returns (id_col, canonical_id, is_duplicate).  Work is Σ|bucket|²
    via :func:`~..similarity.ivf_neardup_pairs` — the corpus never meets
    itself outside a cluster, and the mate-min aggregate is one narrow
    shuffle on id.  (SemDeDup — Abbas et al. 2023 — prunes within k-means
    clusters exactly this way; transitive closure, when wanted, composes
    with ``dedup.connected_components`` on the pair list.)
    """
    from .similarity import ivf_neardup_pairs

    # consumed twice by the mates union below — materialize the
    # (dup-density-sized) pair list so the bucket join + cosine verify
    # run exactly once
    pairs = session.materialize(ivf_neardup_pairs(vectors, centroids, threshold, id_col, vec_col))
    mates = pairs.select(
        F.col("id_a").alias("id"), F.col("id_b").alias("mate")
    ).unionByName(
        pairs.select(F.col("id_b").alias("id"), F.col("id_a").alias("mate"))
    )
    best = mates.groupBy("id").agg(F.min("mate").alias("_m"))
    return (
        vectors.select(F.col(id_col).alias("id"))
        .join(best, "id", "left")
        .select(
            F.col("id").alias(id_col),
            F.least(F.col("id"), F.coalesce(F.col("_m"), F.col("id"))).alias(
                "canonical_id"
            ),
        )
        .withColumn("is_duplicate", F.col("canonical_id") < F.col(id_col))
    )


def cluster_balanced_sample(vectors: DataFrame, centroids: DataFrame,
                            id_col: str = "vec_id",
                            vec_col: str = "embedding",
                            seed: str = "cbs-v1") -> DataFrame:
    """Diversity-preserving downsample: IVF-assign every vector to its
    nearest centroid, then keep ⌈√|cluster|⌉ members per cluster — the
    square-root quota that flattens head clusters (boilerplate-heavy
    modes) while keeping tail clusters intact, the cluster-balancing
    step behind SemDeDup-style curation and mixture rebalancing.

    Members are picked by md5-hash order (seeded, engine-replayable) —
    a deterministic uniform draw within each cluster, the repo's
    standard stand-in for RNG sampling.

    Scale: assignment is the broadcast-centroid kernel
    (similarity.assign_ivf_centroid); the per-cluster rank is ONE
    shuffle on centroid_id; the sizes dim is |centroids|-rows and
    broadcasts back.  Returns (vec_id, centroid_id, cluster_size,
    quota, rank) for the kept rows."""
    from pyspark.sql.window import Window

    from .similarity import assign_ivf_centroid

    assign = assign_ivf_centroid(vectors, centroids, id_col, vec_col)
    sizes = assign.groupBy("centroid_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("cluster_size")
    )
    w = Window.partitionBy("centroid_id").orderBy(
        F.md5(F.concat_ws("|", F.lit(seed), F.col("id").cast("string"))).asc(),
        F.col("id").asc(),
    )
    quota = F.ceil(F.sqrt(F.col("cluster_size").cast("double"))).cast("bigint")
    return (
        assign.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .join(F.broadcast(sizes), "centroid_id")
        .withColumn("quota", quota)
        .filter(F.col("rank") <= F.col("quota"))
        .select(
            F.col("id").alias("vec_id"),
            "centroid_id",
            "cluster_size",
            "quota",
            "rank",
        )
    )
