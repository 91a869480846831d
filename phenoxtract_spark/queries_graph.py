"""Graph-analytics queries over the document similarity graph.

The near-dup candidate relation (minhash → LSH bands, same geometry as
``dedup_lsh_candidates``) doubles as an undirected similarity graph;
PageRank over it surfaces duplication *hubs* — template/boilerplate
documents connected to many near-copies — a curation signal the
pairwise dedup queries can't express (they score pairs, not centrality).

Oracle: DuckDB replays the SAME fixed three rounds as unrolled CTEs.
Iteration count is part of the operator contract (no convergence
collect), so both engines run bit-identical arithmetic: contributions
round to 9 dp and accumulate in DECIMAL(28,12) (exact, associative),
the damping update is one fixed double expression, ranks round to 9 dp.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from . import session
from .operators import dedup, graph
from .queries_core import q, read_table
from .queries_scale import _SHINGLES3

_CAND = f"""
    {_SHINGLES3},
    seeded AS (
      SELECT doc_id, s.seed, md5(CAST(s.seed AS VARCHAR) || '|' || sh) AS h
      FROM sh, (SELECT unnest(generate_series(0, 3)) AS seed) s
    ),
    sig AS (SELECT doc_id AS id, seed, min(h) AS minhash FROM seeded GROUP BY 1, 2),
    bands AS (
      SELECT id, seed // 2 AS band,
             md5(array_to_string(list_sort(list(CAST(seed AS VARCHAR) || ':' || minhash)), '|')) AS band_key
      FROM sig GROUP BY id, seed // 2
    ),
    cand AS (
      SELECT DISTINCT a.id AS id_a, b.id AS id_b
      FROM bands a JOIN bands b ON a.band = b.band AND a.band_key = b.band_key AND a.id < b.id
    )
"""

_ITER = """
    {out} AS (
      SELECT v.id,
             round(CAST(0.15 AS DOUBLE) + CAST(0.85 AS DOUBLE) *
                   CAST(coalesce(sum(CAST(round(r.rank / d.deg, 9) AS DECIMAL(28,12))),
                                 CAST(0 AS DECIMAL(28,12))) AS DOUBLE), 9) AS rank
      FROM {prev} v
      LEFT JOIN sym e ON e.dst = v.id
      LEFT JOIN {prev} r ON r.id = e.src
      LEFT JOIN deg d ON d.src = e.src
      GROUP BY v.id
    )
"""


@q(
    "graph_pagerank_similarity",
    f"""
    WITH {_CAND},
    sym AS (
      SELECT id_a AS src, id_b AS dst FROM cand
      UNION ALL
      SELECT id_b AS src, id_a AS dst FROM cand
    ),
    deg AS (SELECT src, count(*) AS deg FROM sym GROUP BY src),
    r0 AS (SELECT doc_id AS id, CAST(1.0 AS DOUBLE) AS rank FROM documents),
    {_ITER.format(out="it1", prev="r0")},
    {_ITER.format(out="it2", prev="it1")},
    {_ITER.format(out="it3", prev="it2")}
    SELECT id AS doc_id, rank AS pagerank FROM it3
    """,
)
def graph_pagerank_similarity(spark, sf_dir):
    """Three PageRank rounds over the LSH near-dup graph: every document
    gets a centrality score (isolated docs sit at the 0.15 teleport
    floor).  The candidate subtree materializes once (localCheckpoint);
    each round is one co-partitioned edge join + one contribution
    shuffle — see operators/graph.py for the 100 TB argument."""
    d = read_table(spark, sf_dir, "documents")
    sig = dedup.minhash_signature(d, "doc_id", "text", num_hashes=4, k=3)
    cand = dedup.lsh_candidate_pairs(dedup.lsh_bands(sig, rows_per_band=2))
    ranks = graph.pagerank(
        d.select("doc_id"), cand, id_col="doc_id", iterations=3
    )
    return ranks.select(
        F.col("id").alias("doc_id"), F.col("rank").alias("pagerank")
    )


@q(
    "graph_hierarchy_rollup",
    """
    WITH RECURSIVE nodes AS (
      SELECT c_custkey AS id, c_custkey // 10 AS parent FROM customer
    ),
    walk AS (
      SELECT id, id AS cur, 0 AS d FROM nodes
      UNION ALL
      SELECT w.id, n.parent, w.d + 1
      FROM walk w JOIN nodes n ON n.id = w.cur
      WHERE n.parent != 0
    )
    SELECT w.id, w.cur AS root_id, CAST(w.d + 1 AS BIGINT) AS depth
    FROM walk w JOIN nodes n ON n.id = w.cur
    WHERE n.parent = 0
    """,
)
def graph_hierarchy_rollup(spark, sf_dir):
    """Parent-pointer hierarchy resolution (org chart / BOM shape) over a
    synthetic decimal-digit forest on customer ids: every node's root and
    depth via pointer doubling — log(depth) self-joins of a narrow state,
    where the oracle's recursive CTE walks one level per step."""
    from .operators import graph

    c = read_table(spark, sf_dir, "customer")
    nodes = c.select(
        F.col("c_custkey").alias("id"),
        (F.col("c_custkey") / 10).cast("bigint").alias("parent"),
    )
    return graph.hierarchy_resolve(nodes, "id", "parent", rounds=5)


@q(
    "graph_triangle_count",
    f"""
    WITH {_CAND}
    SELECT CAST(count(*) AS BIGINT) AS n_triangles,
           (SELECT count(*) FROM cand) AS n_edges
    FROM cand e1
    JOIN cand e2 ON e2.id_a = e1.id_b
    JOIN cand e3 ON e3.id_a = e1.id_a AND e3.id_b = e2.id_b
    """,
)
def graph_triangle_count(spark, sf_dir):
    """Triangle count over the LSH similarity graph — the clustering-
    coefficient numerator that separates tight duplicate CLIQUES (template
    families) from chains of coincidental collisions.  Edges are already
    ordered (id_a < id_b), so each triangle is counted exactly once by
    the two-join wedge-closing pattern; cost is Σ degree² over the
    candidate graph, which LSH banding keeps duplicate-density-bounded —
    the corpus itself is never joined."""
    d = read_table(spark, sf_dir, "documents")
    sig = dedup.minhash_signature(d, "doc_id", "text", num_hashes=4, k=3)
    cand = dedup.lsh_candidate_pairs(dedup.lsh_bands(sig, rows_per_band=2))
    cand = session.materialize(cand)  # three join sides + edge count
    e1 = cand.select(F.col("id_a").alias("a"), F.col("id_b").alias("b"))
    e2 = cand.select(F.col("id_a").alias("b"), F.col("id_b").alias("c"))
    e3 = cand.select(F.col("id_a").alias("a"), F.col("id_b").alias("c"))
    tri = (
        e1.join(e2, "b")
        .join(e3, ["a", "c"])
        .agg(F.count(F.lit(1)).alias("n_triangles"))
    )
    edges = cand.agg(F.count(F.lit(1)).alias("n_edges"))
    return tri.crossJoin(F.broadcast(edges)).select("n_triangles", "n_edges")


def _peel_sql(r: int) -> str:
    """One peeling round (mirrors graph.onion_peel): degree among the
    still-alive nodes; < k peels with layer r, >= k survives."""
    return f"""
    degc{r} AS MATERIALIZED (
      SELECT a.id,
             CAST(coalesce(sum(CASE WHEN b.id IS NOT NULL THEN 1 ELSE 0 END), 0)
                  AS BIGINT) AS deg
      FROM alive{r - 1} a
      LEFT JOIN sym e ON e.src = a.id
      LEFT JOIN alive{r - 1} b ON b.id = e.dst
      GROUP BY a.id
    ),
    peel{r} AS (SELECT id, CAST({r} AS BIGINT) AS peel_round
                FROM degc{r} WHERE deg < 2),
    alive{r} AS MATERIALIZED (SELECT id FROM degc{r} WHERE deg >= 2)"""


_PEEL_CHAIN = ",".join(_peel_sql(r) for r in range(1, 9))
_PEEL_UNION = "\n      UNION ALL ".join(
    f"SELECT * FROM peel{r}" for r in range(1, 9)
)


@q(
    "graph_onion_layers",
    f"""
    WITH edges AS (
      SELECT c_custkey AS id_a, c_custkey + 1 AS id_b FROM customer
      WHERE (c_custkey - 1) % 10 < 9
      UNION ALL
      SELECT c_custkey, c_custkey + 9 FROM customer
      WHERE (c_custkey - 1) % 10 = 0
        AND ('0x' || substr(md5('onion-v1|'
              || CAST((c_custkey - 1) // 10 AS VARCHAR)), 1, 8))::BIGINT % 3 = 0
    ),
    sym AS MATERIALIZED (
      SELECT id_a AS src, id_b AS dst FROM edges
      UNION ALL
      SELECT id_b AS src, id_a AS dst FROM edges
    ),
    alive0 AS MATERIALIZED (SELECT c_custkey AS id FROM customer),
    {_PEEL_CHAIN},
    layers AS (
      {_PEEL_UNION}
      UNION ALL SELECT id, CAST(0 AS BIGINT) AS peel_round FROM alive8
    )
    SELECT id, peel_round, peel_round = 0 AS in_core
    FROM layers
    """,
)
def graph_onion_layers(spark, sf_dir):
    """Onion / 2-core decomposition (operators/graph.py:onion_peel) over
    a deterministic chain-and-chord graph on customers: every block of
    ten consecutive keys is a path, and md5-selected blocks (1 in 3)
    close into a cycle.  Cycles survive into the 2-core (layer 0);
    open chains peel CASCADING from both ends — two nodes per round
    for five rounds — so the layer histogram exercises the full onion
    depth, not just a one-round peel (the LSH near-dup graph at test
    scale is too sparse: 497 of 500 docs peel in round 1).  Edges that
    point past the last key vanish in the alive semi-join (the operator
    contract).  Eight fixed rounds, converged by round 5; the oracle
    replays every round as generated MATERIALIZED CTEs — DuckDB's
    default CTE inlining re-expands each round's double reference to
    the previous alive set, going exponential without them.  Integer
    arithmetic only."""
    c = read_table(spark, sf_dir, "customer")
    pos = (F.col("c_custkey") - 1) % 10
    block = ((F.col("c_custkey") - 1) / 10).cast("bigint")
    bsel = (
        F.conv(F.substring(F.md5(F.concat_ws("|", F.lit("onion-v1"),
                                             block.cast("string"))), 1, 8), 16, 10)
        .cast("bigint") % 3
    )
    chain = c.filter(pos < 9).select(
        F.col("c_custkey").alias("id_a"),
        (F.col("c_custkey") + 1).alias("id_b"),
    )
    chords = c.filter((pos == 0) & (bsel == 0)).select(
        F.col("c_custkey").alias("id_a"),
        (F.col("c_custkey") + 9).alias("id_b"),
    )
    return graph.onion_peel(
        c.select(F.col("c_custkey").alias("id")),
        chain.unionByName(chords), k=2, rounds=8, id_col="id",
    )
