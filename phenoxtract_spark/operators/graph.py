"""Iterative graph algorithms over pair relations (Pregel-style rounds).

Complements ``dedup.connected_components`` (min-label propagation) with
weighted rank propagation: PageRank over the near-duplicate similarity
graph scores how *central* a document is inside its duplication
neighborhood — a useful curation signal (templates/boilerplate hubs rank
high; singleton docs stay at the teleport floor).

Scale notes (100 TB):
- The edge relation (LSH candidate pairs) is materialized ONCE with its
  degree attached (``localCheckpoint``) — the expensive candidate
  generation never re-executes across rounds, and the join partitioning
  on ``src`` is reused by every iteration.
- Each round is one co-partitioned join (ranks ⋈ edges on src) plus one
  shuffle (contribution sum keyed by dst).  No driver-side data ever
  moves: iteration count is FIXED (the oracle replays the same rounds),
  so there is no convergence collect at all.
- Contributions accumulate in DECIMAL(28,12) — exact and associative —
  so the per-vertex sum is independent of partition layout and engine
  summation order; the damping update is a fixed double expression on
  identical operands.  Ranks round to 9 dp each round, keeping every
  engine bit-identical round-over-round.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .. import session

_CONTRIB_DEC = "decimal(28,12)"


def pagerank(
    vertices: DataFrame,
    edges: DataFrame,
    id_col: str = "id",
    iterations: int = 3,
    damping: float = 0.85,
    round_dp: int = 9,
) -> DataFrame:
    """Fixed-iteration PageRank over an undirected pair relation.

    ``vertices``: one row per node (first/``id_col`` column is the id).
    ``edges``: (id_a, id_b) pairs — symmetrized internally, so each
    undirected pair contributes in both directions.

    rank⁰(v) = 1.0;  rankⁿ(v) = (1-d) + d · Σ_{u→v} round(rankⁿ⁻¹(u)/deg(u), 9)

    The teleport term is ``round(1-damping, 12)`` so the Python float
    matches the SQL literal an oracle writes (1-0.85 in IEEE double is
    0.15000000000000002 — NOT the literal 0.15).  Returns (id, rank).
    """
    teleport = round(1.0 - damping, 12)
    sym = edges.select(
        F.col("id_a").alias("src"), F.col("id_b").alias("dst")
    ).unionByName(edges.select(F.col("id_b").alias("src"), F.col("id_a").alias("dst")))
    deg = sym.groupBy(F.col("src").alias("d_src")).agg(F.count("*").alias("deg"))
    # materialize edges+degree once: candidate generation is the expensive
    # subtree and must not replay per round; the shuffle partitioning on
    # src survives the checkpoint and co-locates every round's rank join
    edges_deg = session.materialize(
        sym.join(deg, sym.src == deg.d_src)
        .select("src", "dst", "deg")
        .repartition("src")
    )
    ids = vertices.select(F.col(id_col).alias("id"))
    ranks = ids.withColumn("rank", F.lit(1.0))
    zero = F.lit(0).cast(_CONTRIB_DEC)
    for _ in range(iterations):
        contrib = edges_deg.join(ranks, edges_deg.src == ranks.id).select(
            "dst",
            F.round(F.col("rank") / F.col("deg"), 9).cast(_CONTRIB_DEC).alias("c"),
        )
        summed = contrib.groupBy("dst").agg(F.sum("c").alias("s"))
        # r12 (guide §2.4 — don't recompute): the vertex-id set for the
        # teleport join is exactly the previous round's rank relation,
        # which is already checkpointed; joining against it instead of
        # ``ids`` stops the vertices subtree (a parquet scan in every
        # caller) from re-executing once per iteration.  Round 1 still
        # reads ``ids`` via ``ranks``'s lineage-free checkpoint parent
        # (ranks itself is built from ids, so the id set is identical).
        prev_ids = ranks.select("id")
        ranks = session.materialize(
            prev_ids.join(summed, prev_ids.id == summed.dst, "left")
            .select(
                "id",
                F.round(
                    F.lit(teleport)
                    + F.lit(damping) * F.coalesce(F.col("s"), zero).cast("double"),
                    round_dp,
                ).alias("rank"),
            )
        )
    return ranks


def hierarchy_resolve(nodes: DataFrame, id_col: str, parent_col: str,
                      rounds: int = 5) -> DataFrame:
    """Resolve every node of a parent-pointer forest to its root and depth
    by POINTER DOUBLING: each round a node jumps to its current ancestor's
    ancestor, so resolved depth doubles per round — depth ≤ 2^rounds, i.e.
    the default ``rounds=5`` covers depth-32 forests and 32 rounds would be
    needed for depth 2³² (size ``rounds`` as ⌈log₂(max depth)⌉; the runtime
    warning fires on unresolved nodes).  Parent id 0
    (or null) marks a root's parent.  Returns (id, root_id, depth).

    Scale: each round is ONE self-join of the narrow (id, anc, d, root)
    state keyed on ``anc``, checkpointed so the plan stays O(1) in round
    count (the connected-components discipline); no adjacency explosion,
    no driver-side traversal.  The recursive-CTE oracle walks the same
    forest one level at a time."""
    p = F.coalesce(F.col(parent_col), F.lit(0))
    state = session.materialize(
        nodes.select(
            F.col(id_col).alias("id"),
            F.when(p == 0, F.lit(0)).otherwise(p).cast("bigint").alias("anc"),
            F.lit(1).cast("bigint").alias("d"),
            F.when(p == 0, F.col(id_col).cast("bigint")).alias("root"),
        )
    )
    for _ in range(rounds):
        t = state.select(
            F.col("id").alias("t_id"), F.col("anc").alias("t_anc"),
            F.col("d").alias("t_d"), F.col("root").alias("t_root"),
        )
        state = session.materialize(
            state.join(t, state["anc"] == t["t_id"], "left")
            .select(
                "id",
                F.when(F.col("anc") == 0, F.col("anc"))
                .otherwise(F.col("t_anc")).alias("anc"),
                F.when(F.col("anc") == 0, F.col("d"))
                .otherwise(F.col("d") + F.col("t_d")).alias("d"),
                F.when(F.col("anc") == 0, F.col("root"))
                .otherwise(F.col("t_root")).alias("root"),
            )
        )
    unresolved = state.filter(F.col("anc") != 0).limit(1).count()
    if unresolved:
        import warnings

        warnings.warn(
            f"hierarchy_resolve: unresolved chains after {rounds} doubling "
            f"rounds (depth > 2^{rounds}) — increase rounds"
        )
    return state.select("id", F.col("root").alias("root_id"), F.col("d").alias("depth"))


def onion_peel(nodes: DataFrame, pairs: DataFrame, k: int = 2,
               rounds: int = 8, id_col: str = "id") -> DataFrame:
    """Onion / k-core decomposition by FIXED-ROUND peeling: each round
    removes every remaining node whose degree among the remaining nodes
    is below ``k``; nodes peeled in round r get ``peel_round = r`` and
    whatever survives all ``rounds`` is flagged ``in_core`` with
    ``peel_round = 0``.  The layer number is the onion-decomposition
    depth — the peel-resistance curation signal (core = densely
    interlinked template/boilerplate families; layer 1 = singletons and
    dangling near-dups), strictly finer than connected components.

    The round count is part of the operator contract (the pagerank
    discipline — the oracle replays the same rounds; no convergence
    collect).  Peeling is monotone, so a converged round ``r`` (nothing
    removed) makes every later round a no-op and the fixed-round output
    IS the exact k-core.  Integer arithmetic only.

    Scale shape: per round, one semi-join of the (checkpointed) edge
    relation against the alive set per side + one degree count — all
    keyed by node id; the alive set shrinks monotonically.  Rounds are
    checkpointed (dimension-to-table-sized state) so round r's plan
    does not contain rounds 1..r-1."""
    sym = session.materialize(
        pairs.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
        .unionByName(
            pairs.select(F.col("id_b").alias("src"), F.col("id_a").alias("dst"))
        )
    )
    alive = nodes.select(F.col(id_col).alias("id"))
    peeled_layers = None
    for r in range(1, int(rounds) + 1):
        live_edges = (
            sym.join(alive.select(F.col("id").alias("src")), "src", "left_semi")
            .join(alive.select(F.col("id").alias("dst")), "dst", "left_semi")
        )
        deg = live_edges.groupBy(F.col("src").alias("id")).agg(
            F.count(F.lit(1)).cast("bigint").alias("_deg")
        )
        tagged = alive.join(deg, "id", "left").select(
            "id", F.coalesce("_deg", F.lit(0)).alias("_deg")
        )
        peeled = tagged.filter(F.col("_deg") < k).select(
            "id", F.lit(r).cast("bigint").alias("peel_round")
        )
        peeled_layers = (
            peeled if peeled_layers is None
            else peeled_layers.unionByName(peeled)
        )
        alive = session.materialize(tagged.filter(F.col("_deg") >= k).select("id"))
    core = alive.select("id", F.lit(0).cast("bigint").alias("peel_round"))
    return (
        peeled_layers.unionByName(core)
        .select(
            "id", "peel_round", (F.col("peel_round") == 0).alias("in_core")
        )
    )
