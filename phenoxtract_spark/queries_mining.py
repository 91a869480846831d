"""Mining / modeling queries (round 8): record linkage, domain-mixture
reweighting, readability, Holt trend forecasting, exact correlations,
embedding outliers, and link prediction.

Each query follows the repo's determinism discipline — DECIMAL(28,12)
accumulation for cross-row double sums (the PageRank recipe), dyadic
coefficients for folds, blocked/bucketed self-joins with explicit
quadratic valves — so every DuckDB oracle compares bit-identically and
every plan's cost is Σ|bucket|²-bounded, never |table|².
"""

from __future__ import annotations

from pyspark.sql import functions as F

from . import session
from .operators import behavior, curation, dedup, linkage, textanalysis
from .queries_core import q, read_table
from .queries_graph import _CAND
from .queries_scale import _NORM, _votes_sql

# ---------------------------------------------------------------------------
# entity resolution over structured records
# ---------------------------------------------------------------------------

_ER_PAIRS_SQL = """
    SELECT a.p_partkey AS id_a, b.p_partkey AS id_b,
           CAST(levenshtein(a.p_name, b.p_name) AS BIGINT) AS dist
    FROM part a
    JOIN part b ON a.p_brand = b.p_brand AND a.p_size = b.p_size
              AND a.p_partkey < b.p_partkey
    WHERE levenshtein(a.p_name, b.p_name) <= 3
"""


@q("er_fuzzy_part_pairs", _ER_PAIRS_SQL)
def er_fuzzy_part_pairs(spark, sf_dir):
    """Record-linkage compare stage (operators/linkage.py): parts
    blocked on (brand, size), Levenshtein ≤ 3 on the name — identical
    unit-cost edit distance on both engines, JVM codegen on Spark.  The
    self-join only meets inside a block (Σ|block|², blocks ≤ 7 rows at
    test scale) and the operator's max_block valve raises on a
    degenerate key instead of detonating quadratically."""
    p = read_table(spark, sf_dir, "part")
    return linkage.blocked_fuzzy_pairs(
        p, "p_partkey", "p_name", ["p_brand", "p_size"], max_dist=3
    )


@q(
    "er_fuzzy_part_clusters",
    f"""
    WITH pairs AS ({_ER_PAIRS_SQL}),
    sym AS (
      SELECT id_a AS src, id_b AS dst FROM pairs
      UNION ALL SELECT id_b, id_a FROM pairs
    ),
    reach AS (
      WITH RECURSIVE r(a, b) AS (
        SELECT p_partkey, p_partkey FROM part
        UNION
        SELECT r.a, s.dst FROM r JOIN sym s ON r.b = s.src
      )
      SELECT * FROM r
    ),
    canon AS (SELECT a AS id, min(b) AS canonical_id FROM reach GROUP BY a),
    csize AS (SELECT canonical_id, CAST(count(*) AS BIGINT) AS cluster_size
              FROM canon GROUP BY 1)
    SELECT c.id, c.canonical_id, s.cluster_size
    FROM canon c JOIN csize s USING (canonical_id)
    """,
)
def er_fuzzy_part_clusters(spark, sf_dir):
    """Record-linkage cluster stage: transitive closure of the fuzzy
    match relation via min-label propagation
    (operators/dedup.py:connected_components — bounded rounds, scalar
    convergence check), so chained matches A~B~C canonicalize together
    even when A and C never compared.  Total assignment: singletons
    keep themselves with cluster_size 1."""
    p = read_table(spark, sf_dir, "part")
    pairs = linkage.blocked_fuzzy_pairs(
        p, "p_partkey", "p_name", ["p_brand", "p_size"], max_dist=3
    ).select("id_a", "id_b")
    return linkage.er_clusters(p, "p_partkey", pairs)


# ---------------------------------------------------------------------------
# DoReMi-style domain mixture reweighting
# ---------------------------------------------------------------------------

_QUALITY_CTE = f"""
    m AS (
      SELECT doc_id, source,
             CAST(length(text) AS DOUBLE) AS n_chars,
             CAST(length(regexp_replace(lower(text), '[^a-z]', '', 'g')) AS DOUBLE) AS n_alpha,
             CAST(length(regexp_replace(text, '[^!-/:-@\\[-`{{-~]', '', 'g')) AS DOUBLE) AS n_punct,
             CAST(len(list_filter(string_split({_NORM}, ' '), t -> t != '')) AS DOUBLE) AS n_tok,
             CAST({_votes_sql('en')} AS DOUBLE) AS en_stop
      FROM documents
    ),
    scored AS (
      SELECT doc_id, source,
             round(0.3 * least(n_chars / 500.0, 1.0)
                 + 0.3 * (CASE WHEN n_chars > 0 THEN n_alpha / n_chars ELSE 0.0 END)
                 + 0.2 * (CASE WHEN n_tok > 0
                               THEN least(en_stop / (n_tok * 0.1 + 1e-9), 1.0) ELSE 0.0 END)
                 + 0.2 * (CASE WHEN n_chars > 0
                               THEN 1.0 - least(n_punct / n_chars * 5, 1.0) ELSE 0.0 END), 6)
             AS quality
      FROM m
    )
"""

_MW_ROUND = """
    l{t} AS (SELECT CAST(sum(CAST(round(weight * domain_loss, 9)
                                  AS DECIMAL(28,12))) AS DOUBLE) AS lbar
             FROM w{p}),
    r{t} AS (SELECT domain, n_docs, domain_loss,
                    round(weight * (CAST(1.0 AS DOUBLE)
                          + CAST(0.5 AS DOUBLE) * (domain_loss - lbar)), 9) AS raw
             FROM w{p}, l{t}),
    t{t} AS (SELECT CAST(sum(CAST(raw AS DECIMAL(28,12))) AS DOUBLE) AS tot
             FROM r{t}),
    w{t} AS (SELECT domain, n_docs, domain_loss, round(raw / tot, 9) AS weight
             FROM r{t}, t{t})"""


@q(
    "curation_domain_mixture",
    f"""
    WITH {_QUALITY_CTE},
    dom AS (
      SELECT source AS domain, CAST(count(*) AS BIGINT) AS n_docs,
             round(CAST(1.0 AS DOUBLE)
                   - CAST(sum(CAST(round(quality, 9) AS DECIMAL(28,12)))
                          AS DOUBLE) / count(*), 9) AS domain_loss
      FROM scored GROUP BY source
    ),
    kk AS (SELECT count(*) AS k FROM dom),
    w0 AS (SELECT domain, n_docs, domain_loss,
                  round(CAST(1.0 AS DOUBLE) / k, 9) AS weight
           FROM dom, kk),
    {_MW_ROUND.format(t=1, p=0)},
    {_MW_ROUND.format(t=2, p=1)},
    {_MW_ROUND.format(t=3, p=2)}
    SELECT domain, n_docs, domain_loss, weight FROM w3
    """,
)
def curation_domain_mixture(spark, sf_dir):
    """DoReMi-style mixture reweighting
    (operators/curation.py:domain_mixture_weights): three fixed
    multiplicative-weights rounds over per-source excess loss
    (1 − quality), the rational update w·(1+η·(L_d−L̄)) replacing exp()
    so both engines replay the trajectory exactly.  One corpus pass +
    K-row iterations; all cross-row sums DECIMAL(28,12)-accumulated.
    The oracle unrolls all three rounds CTE by CTE."""
    d = read_table(spark, sf_dir, "documents")
    return curation.domain_mixture_weights(
        d, "source", textanalysis.quality_score("text"), rounds=3, eta=0.5
    )


# ---------------------------------------------------------------------------
# readability
# ---------------------------------------------------------------------------


@q(
    "text_readability",
    f"""
    WITH c AS (
      SELECT doc_id,
             CAST(greatest(len(regexp_extract_all(text, '[.!?]+')), 1)
                  AS BIGINT) AS n_sentences,
             CAST(len(list_filter(string_split({_NORM}, ' '), x -> x != ''))
                  AS BIGINT) AS n_words,
             CAST(len(regexp_extract_all(lower(text), '[aeiouy]+'))
                  AS BIGINT) AS n_syllables
      FROM documents
    )
    SELECT doc_id, n_sentences, n_words, n_syllables,
           CASE WHEN n_words > 0 THEN
             round(CAST(0.39 AS DOUBLE) * n_words / n_sentences
                 + CAST(11.8 AS DOUBLE) * n_syllables / n_words
                 - CAST(15.59 AS DOUBLE), 4)
           END AS fk_grade
    FROM c
    """,
)
def text_readability(spark, sf_dir):
    """Flesch-Kincaid readability per document
    (operators/textanalysis.py:readability_scores): vowel-group
    syllable proxy, [.!?]+ sentence runs floored at 1 — three compiled
    regex scans per row, integer counts, one final rounded double.  A
    curation signal orthogonal to the quality score (an all-stopword
    doc scores high quality but ~0 grade)."""
    d = read_table(spark, sf_dir, "documents")
    return textanalysis.readability_scores(d, "doc_id", "text").select(
        F.col("id").alias("doc_id"),
        "n_sentences", "n_words", "n_syllables", "fk_grade",
    )


# ---------------------------------------------------------------------------
# Holt linear trend forecast
# ---------------------------------------------------------------------------


@q(
    "analytics_holt_linear",
    """
    WITH daily AS (
      SELECT event_type, date_trunc('day', ts) AS day,
             CAST(count(*) AS DOUBLE) AS x
      FROM events GROUP BY 1, 2
    ),
    ord AS MATERIALIZED (
      SELECT event_type, x,
             CAST(row_number() OVER (PARTITION BY event_type ORDER BY day)
                  AS BIGINT) AS i
      FROM daily
    ),
    rec AS MATERIALIZED (
      -- fold replayed as a recursive CTE: DuckDB's struct-state
      -- list_reduce evaluates result fields SEQUENTIALLY over an
      -- in-place accumulator (field 2 sees field 1's NEW value), so a
      -- two-field recurrence cannot use it; the recursion has
      -- well-defined simultaneous-assignment semantics
      WITH RECURSIVE r(event_type, i, level, trend) AS (
        SELECT event_type, i, x, CAST(0.0 AS DOUBLE)
        FROM ord WHERE i = 1
        UNION ALL
        SELECT r.event_type, r.i + 1,
               CAST(0.5 AS DOUBLE) * o.x + CAST(0.5 AS DOUBLE) * r.level
                 + CAST(0.5 AS DOUBLE) * r.trend,
               CAST(0.25 AS DOUBLE) * o.x - CAST(0.25 AS DOUBLE) * r.level
                 + CAST(0.75 AS DOUBLE) * r.trend
        FROM r JOIN ord o ON o.event_type = r.event_type AND o.i = r.i + 1
      )
      SELECT * FROM r
    ),
    fin AS (SELECT event_type, max(i) AS n FROM rec GROUP BY 1)
    SELECT r.event_type, CAST(fin.n AS BIGINT) AS n_periods,
           round(r.level, 6) AS level,
           round(r.trend, 6) AS trend,
           round(r.level + r.trend, 6) AS forecast_next
    FROM rec r JOIN fin ON fin.event_type = r.event_type AND r.i = fin.n
    """,
)
def analytics_holt_linear(spark, sf_dir):
    """Holt's linear smoothing over daily event counts per type
    (operators/behavior.py:holt_linear_forecast): level+trend fold with
    dyadic α = β = 0.5, so every update is an exact binary average and
    the fold is bit-identical to DuckDB's list_reduce — no rounding
    grid needed.  Aggregate-first (one element per day, not per event),
    then a codegen'd sequential fold per key."""
    ev = read_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.date_trunc("day", F.col("ts")).alias("day")
    ).agg(F.count(F.lit(1)).cast("double").alias("x"))
    return behavior.holt_linear_forecast(
        daily, "event_type", "day", "x", alpha=0.5, beta=0.5
    )


# ---------------------------------------------------------------------------
# exact Pearson correlation
# ---------------------------------------------------------------------------


@q(
    "profiling_numeric_correlation",
    """
    WITH sc AS (
      SELECT CAST(round(l_quantity * 100) AS BIGINT) AS xq,
             CAST(round(l_extendedprice * 100) AS BIGINT) AS xp,
             CAST(round(l_discount * 100) AS BIGINT) AS xd
      FROM lineitem
    ),
    s AS (
      SELECT CAST(count(*) AS DOUBLE) AS n,
             CAST(sum(xq) AS DOUBLE) AS sq, CAST(sum(xp) AS DOUBLE) AS sp,
             CAST(sum(xd) AS DOUBLE) AS sd,
             CAST(sum(xq * xq) AS DOUBLE) AS sqq,
             CAST(sum(xp * xp) AS DOUBLE) AS spp,
             CAST(sum(xd * xd) AS DOUBLE) AS sdd,
             CAST(sum(xq * xp) AS DOUBLE) AS sqp,
             CAST(sum(xq * xd) AS DOUBLE) AS sqd,
             CAST(sum(xp * xd) AS DOUBLE) AS spd
      FROM sc
    )
    SELECT 'quantity~extendedprice' AS pair, CAST(n AS BIGINT) AS n_rows,
           round((n * sqp - sq * sp)
                 / sqrt((n * sqq - sq * sq) * (n * spp - sp * sp)), 6) AS r
    FROM s
    UNION ALL
    SELECT 'quantity~discount', CAST(n AS BIGINT),
           round((n * sqd - sq * sd)
                 / sqrt((n * sqq - sq * sq) * (n * sdd - sd * sd)), 6)
    FROM s
    UNION ALL
    SELECT 'extendedprice~discount', CAST(n AS BIGINT),
           round((n * spd - sp * sd)
                 / sqrt((n * spp - sp * sp) * (n * sdd - sd * sd)), 6)
    FROM s
    """,
)
def profiling_numeric_correlation(spark, sf_dir):
    """Exact Pearson correlation between lineitem measures, computed
    from INTEGER-EXACT sufficient statistics: 2-dp values scale to
    cent-integers, all sums/products accumulate exactly (DECIMAL(38,0)
    on Spark, HUGEINT on DuckDB — associative, order-independent), and
    only the final r is a double expression — so the result is
    bit-stable under any partitioning, unlike corr() on raw doubles.
    One scan, one aggregate, three report rows."""
    li = read_table(spark, sf_dir, "lineitem")
    sc = li.select(
        F.round(F.col("l_quantity") * 100).cast("bigint").alias("xq"),
        F.round(F.col("l_extendedprice") * 100).cast("bigint").alias("xp"),
        F.round(F.col("l_discount") * 100).cast("bigint").alias("xd"),
    )
    dec = "decimal(38,0)"
    s = sc.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum(F.col("xq").cast(dec)).cast("double").alias("sq"),
        F.sum(F.col("xp").cast(dec)).cast("double").alias("sp"),
        F.sum(F.col("xd").cast(dec)).cast("double").alias("sd"),
        F.sum((F.col("xq") * F.col("xq")).cast(dec)).cast("double").alias("sqq"),
        F.sum((F.col("xp") * F.col("xp")).cast(dec)).cast("double").alias("spp"),
        F.sum((F.col("xd") * F.col("xd")).cast(dec)).cast("double").alias("sdd"),
        F.sum((F.col("xq") * F.col("xp")).cast(dec)).cast("double").alias("sqp"),
        F.sum((F.col("xq") * F.col("xd")).cast(dec)).cast("double").alias("sqd"),
        F.sum((F.col("xp") * F.col("xd")).cast(dec)).cast("double").alias("spd"),
    )

    def r_struct(label, sxy, sx, sy, sxx, syy):
        n = F.col("n")
        return F.struct(
            F.lit(label).alias("pair"),
            n.cast("bigint").alias("n_rows"),
            F.round(
                (n * F.col(sxy) - F.col(sx) * F.col(sy))
                / F.sqrt(
                    (n * F.col(sxx) - F.col(sx) * F.col(sx))
                    * (n * F.col(syy) - F.col(sy) * F.col(sy))
                ),
                6,
            ).alias("r"),
        )

    # r12: the three report rows ride ONE aggregate via inline_outer —
    # the union-of-three-selects phrasing planned the scan + 10-sum
    # aggregate subtree three times (exchange reuse is not guaranteed
    # across the union branches), i.e. three full passes at 100 TB.
    return s.select(
        F.inline_outer(
            F.array(
                r_struct("quantity~extendedprice", "sqp", "sq", "sp", "sqq", "spp"),
                r_struct("quantity~discount", "sqd", "sq", "sd", "sqq", "sdd"),
                r_struct("extendedprice~discount", "spd", "sp", "sd", "spp", "sdd"),
            )
        )
    )


# ---------------------------------------------------------------------------
# embedding centroid outliers
# ---------------------------------------------------------------------------


def _emb_d2(e):
    """Shared Spark subtree for the embedding family: (d2, st) where d2
    is (vec_id, dist2 — DECIMAL-exact squared distance to the global
    centroid, 6 dp) and st the 1-row corpus moments (n, s1, s2).

    r12 (guide §2.5 input skew / §1.2 step 1): the embeddings parquet is
    a couple of MB = 1-2 scan splits, but the work behind it is the ×64
    posexplode plus DECIMAL casts — measured 2.5 s + 6.7 s as TWO
    1-TASK jobs at sf1 (the centroid branch and the distance branch both
    re-explode at raw-scan parallelism).  ``fan_out`` spreads the explode
    across the cluster before the CPU-dense projection; at 100 TB inputs
    arrive with ≥ parallelism splits and the guard makes it a no-op.
    DECIMAL accumulation is order-independent, so values are unchanged."""
    from .session import fan_out

    vx = fan_out(e).select(
        "vec_id", F.posexplode("embedding").alias("i", "xf")
    ).select("vec_id", "i", F.col("xf").cast("double").alias("x"))
    cent = vx.groupBy("i").agg(
        F.round(
            F.sum(F.round(F.col("x"), 9).cast("decimal(28,12)"))
            .cast("double") / F.count(F.lit(1)),
            9,
        ).alias("c")
    )
    d2 = (
        vx.join(F.broadcast(cent), "i")
        .groupBy("vec_id")
        .agg(
            F.round(
                F.sum(
                    F.round((F.col("x") - F.col("c"))
                            * (F.col("x") - F.col("c")), 9)
                    .cast("decimal(28,12)")
                ).cast("double"),
                6,
            ).alias("dist2")
        )
    )
    st = d2.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum(F.col("dist2").cast("decimal(28,12)")).cast("double").alias("s1"),
        F.sum(F.round(F.col("dist2") * F.col("dist2"), 9)
              .cast("decimal(28,12)")).cast("double").alias("s2"),
    )
    return d2, st


# shared embedding-distance CTE chain: per-dim DECIMAL-exact centroid,
# per-vector squared distance, corpus moments — interpolated by both the
# outlier report and the embedding-pipeline capstone
_EMB_D2_SQL = """idx AS (SELECT unnest(generate_series(1, 64)) AS i),
    vx AS (SELECT vec_id, i, CAST(embedding[i] AS DOUBLE) AS x
           FROM embeddings, idx),
    cent AS (
      SELECT i, round(CAST(sum(CAST(round(x, 9) AS DECIMAL(28,12)))
                           AS DOUBLE) / count(*), 9) AS c
      FROM vx GROUP BY i
    ),
    d2 AS (
      SELECT vec_id,
             round(CAST(sum(CAST(round((x - c) * (x - c), 9)
                                 AS DECIMAL(28,12))) AS DOUBLE), 6) AS dist2
      FROM vx JOIN cent USING (i) GROUP BY vec_id
    ),
    st AS (
      SELECT CAST(count(*) AS DOUBLE) AS n,
             CAST(sum(CAST(dist2 AS DECIMAL(28,12))) AS DOUBLE) AS s1,
             CAST(sum(CAST(round(dist2 * dist2, 9) AS DECIMAL(28,12)))
                  AS DOUBLE) AS s2
      FROM d2
    )"""


@q(
    "embedding_centroid_outliers",
    f"""
    WITH {_EMB_D2_SQL}
    SELECT vec_id, dist2,
           round((dist2 - s1 / n)
                 / sqrt(greatest(s2 / n - (s1 / n) * (s1 / n),
                                 CAST(1e-18 AS DOUBLE))), 4) AS z,
           (dist2 - s1 / n)
             > 2.0 * sqrt(greatest(s2 / n - (s1 / n) * (s1 / n),
                                   CAST(1e-18 AS DOUBLE))) AS is_outlier
    FROM d2, st
    """,
)
def embedding_centroid_outliers(spark, sf_dir):
    """Embedding-space outlier screen: squared distance to the global
    centroid, z-scored over the corpus — the cheap first-pass filter
    for mislabeled/degenerate vectors before ANN indexing or semantic
    dedup.  Every cross-row double sum (per-dim centroid, per-vector
    distance, corpus moments) uses the DECIMAL(28,12) recipe so the
    flags are partition-order-independent.  Plan: one posexplode, one
    64-key groupBy, one broadcast join back, one per-vector groupBy,
    one 1-row moment aggregate — all shuffles on bounded keys except
    the per-vector one, which is the data's own key."""
    e = read_table(spark, sf_dir, "embeddings")
    d2, st = _emb_d2(e)
    mu = F.col("s1") / F.col("n")
    sig = F.sqrt(
        F.greatest(F.col("s2") / F.col("n") - mu * mu, F.lit(1e-18))
    )
    return d2.crossJoin(F.broadcast(st)).select(
        "vec_id", "dist2",
        F.round((F.col("dist2") - mu) / sig, 4).alias("z"),
        ((F.col("dist2") - mu) > F.lit(2.0) * sig).alias("is_outlier"),
    )


# ---------------------------------------------------------------------------
# link prediction on the similarity graph
# ---------------------------------------------------------------------------


@q(
    "graph_resource_allocation",
    """
    WITH cand AS (
      SELECT c_custkey AS id_a, c_custkey + 1 AS id_b FROM customer
      WHERE (c_custkey - 1) % 10 < 9
      UNION ALL
      SELECT c_custkey, c_custkey + 9 FROM customer
      WHERE (c_custkey - 1) % 10 = 0
        AND ('0x' || substr(md5('onion-v1|'
              || CAST((c_custkey - 1) // 10 AS VARCHAR)), 1, 8))::BIGINT % 3 = 0
    ),
    sym AS (
      SELECT id_a AS src, id_b AS dst FROM cand
      UNION ALL SELECT id_b, id_a FROM cand
    ),
    deg AS (SELECT src AS id, CAST(count(*) AS BIGINT) AS deg
            FROM sym GROUP BY src),
    wedge AS (
      SELECT e1.src AS id_a, e2.dst AS id_b, e1.dst AS z
      FROM sym e1 JOIN sym e2 ON e1.dst = e2.src
      WHERE e1.src < e2.dst
    ),
    scored AS (
      SELECT w.id_a, w.id_b,
             CAST(count(*) AS BIGINT) AS n_common,
             round(CAST(sum(CAST(round(CAST(1.0 AS DOUBLE) / d.deg, 9)
                                 AS DECIMAL(28,12))) AS DOUBLE), 6) AS ra_score
      FROM wedge w JOIN deg d ON d.id = w.z
      GROUP BY w.id_a, w.id_b
    )
    SELECT s.id_a, s.id_b, s.n_common, s.ra_score
    FROM scored s
    LEFT JOIN cand c ON c.id_a = s.id_a AND c.id_b = s.id_b
    WHERE c.id_a IS NULL
    """,
)
def graph_resource_allocation(spark, sf_dir):
    """Resource-allocation link prediction (Zhou et al. 2009): for each
    NON-adjacent pair with common neighbors, RA = Σ_z 1/deg(z) — pure
    rational arithmetic (no logs, unlike Adamic-Adar, so no cross-engine
    libm risk), DECIMAL-accumulated.  The wedge join is the triangle-
    count pattern: Σ degree² over the graph; predicted links are wedges
    minus existing edges (one anti-join).  Runs on the deterministic
    chain-and-chord customer graph (the graph_onion_layers fixture) —
    the LSH near-dup graph is all 2-cliques at test scale, which would
    make the report vacuously empty."""
    c = read_table(spark, sf_dir, "customer")
    pos = (F.col("c_custkey") - 1) % 10
    block = ((F.col("c_custkey") - 1) / 10).cast("bigint")
    bsel = (
        F.conv(F.substring(F.md5(F.concat_ws("|", F.lit("onion-v1"),
                                             block.cast("string"))), 1, 8),
               16, 10).cast("bigint") % 3
    )
    chain = c.filter(pos < 9).select(
        F.col("c_custkey").alias("id_a"),
        (F.col("c_custkey") + 1).alias("id_b"),
    )
    chords = c.filter((pos == 0) & (bsel == 0)).select(
        F.col("c_custkey").alias("id_a"),
        (F.col("c_custkey") + 9).alias("id_b"),
    )
    cand = session.materialize(chain.unionByName(chords))  # feeds sym twice + the anti-join
    sym = cand.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst")) \
        .unionByName(cand.select(F.col("id_b").alias("src"),
                                 F.col("id_a").alias("dst")))
    deg = sym.groupBy(F.col("src").alias("id")).agg(
        F.count(F.lit(1)).cast("bigint").alias("deg")
    )
    e1 = sym.select(F.col("src").alias("id_a"), F.col("dst").alias("z"))
    e2 = sym.select(F.col("src").alias("z"), F.col("dst").alias("id_b"))
    wedge = e1.join(e2, "z").filter(F.col("id_a") < F.col("id_b"))
    scored = (
        wedge.join(deg.withColumnRenamed("id", "z"), "z")
        .groupBy("id_a", "id_b")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_common"),
            F.round(
                F.sum(
                    F.round(F.lit(1.0) / F.col("deg"), 9)
                    .cast("decimal(28,12)")
                ).cast("double"),
                6,
            ).alias("ra_score"),
        )
    )
    return scored.join(cand, ["id_a", "id_b"], "left_anti").select(
        "id_a", "id_b", "n_common", "ra_score"
    )


# ---------------------------------------------------------------------------
# behavioral bot screen
# ---------------------------------------------------------------------------


@q(
    "events_bot_detection",
    """
    WITH g AS (
      SELECT user_id,
             CAST(epoch_us(ts) - lag(epoch_us(ts))
                    OVER (PARTITION BY user_id ORDER BY ts, event_id)
                  AS DOUBLE) AS gap
      FROM events
    ),
    m AS (
      SELECT user_id, CAST(count(*) AS BIGINT) AS n_gaps,
             quantile_cont(gap, 0.5) AS med
      FROM g WHERE gap IS NOT NULL GROUP BY 1
    ),
    d AS (
      SELECT g.user_id, abs(g.gap - m.med) AS adev
      FROM g JOIN m USING (user_id) WHERE g.gap IS NOT NULL
    ),
    md AS (SELECT user_id, quantile_cont(adev, 0.5) AS mad FROM d GROUP BY 1)
    SELECT m.user_id, m.n_gaps,
           m.med AS median_gap_us, md.mad AS mad_gap_us,
           round(md.mad / greatest(m.med, 1), 4) AS regularity,
           round(md.mad / greatest(m.med, 1), 4) < CAST(0.55 AS DOUBLE)
             AS is_suspect
    FROM m JOIN md USING (user_id)
    WHERE m.n_gaps >= 20
    """,
)
def events_bot_detection(spark, sf_dir):
    """Behavioral bot screen: per-user inter-event gap regularity.
    A scripted client fires on a timer, so its gap distribution is
    tight — mad/median (a scale-free robust dispersion) near 0 — while
    organic users are bursty (~0.5-1.0 on this corpus).  Flag
    regularity < 0.55 after a 4-dp round (stable boundary); minimum 20
    gaps so small samples can't fake regularity.  Regularity divides by
    greatest(med, 1) µs (r9): a client whose gaps are ALL zero — the
    most machine-like possible — has med=mad=0 and a naive mad/med is
    NaN, silently un-flagging it; the floor makes it 0/1 = 0 → flagged.
    Gaps are exact integer microseconds; median/MAD via the percentile
    pair both engines interpolate identically (the
    analytics_mad_outliers precedent).  Plan: one window pass, two
    bounded groupBys — no self-joins."""
    from pyspark.sql.window import Window

    ev = read_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    us = F.unix_micros(F.col("ts"))
    g = ev.select(
        "user_id", (us - F.lag(us).over(w)).cast("double").alias("gap")
    ).filter(F.col("gap").isNotNull())
    m = g.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_gaps"),
        F.percentile("gap", F.lit(0.5)).alias("med"),
    )
    d = g.join(m, "user_id").select(
        "user_id", F.abs(F.col("gap") - F.col("med")).alias("adev")
    )
    md = d.groupBy("user_id").agg(
        F.percentile("adev", F.lit(0.5)).alias("mad")
    )
    reg = F.round(F.col("mad") / F.greatest(F.col("med"), F.lit(1.0)), 4)
    return (
        m.join(md, "user_id")
        .filter(F.col("n_gaps") >= 20)
        .select(
            "user_id", "n_gaps",
            F.col("med").alias("median_gap_us"),
            F.col("mad").alias("mad_gap_us"),
            reg.alias("regularity"),
            (reg < F.lit(0.55)).alias("is_suspect"),
        )
    )


# ---------------------------------------------------------------------------
# cohort lifetime value
# ---------------------------------------------------------------------------


@q(
    "analytics_cohort_ltv",
    """
    WITH p AS (
      SELECT user_id, CAST(date_trunc('day', ts) AS DATE) AS day,
             CAST(round(value * 100) AS BIGINT) AS cents
      FROM events WHERE event_type = 'purchase' AND value IS NOT NULL
    ),
    cohort AS (SELECT user_id, min(day) AS cohort_day FROM p GROUP BY 1),
    sizes AS (SELECT cohort_day, CAST(count(*) AS BIGINT) AS n_users
              FROM cohort GROUP BY 1),
    rev AS (
      SELECT c.cohort_day,
             CAST(datediff('day', c.cohort_day, p.day) AS BIGINT) AS age_days,
             CAST(sum(p.cents) AS BIGINT) AS day_cents,
             CAST(count(DISTINCT p.user_id) AS BIGINT) AS active_users
      FROM p JOIN cohort c USING (user_id)
      GROUP BY 1, 2
    ),
    cum AS (
      SELECT cohort_day, age_days, active_users,
             CAST(sum(day_cents) OVER (PARTITION BY cohort_day
                                       ORDER BY age_days
                                       ROWS BETWEEN UNBOUNDED PRECEDING
                                       AND CURRENT ROW) AS BIGINT)
               AS cum_revenue_cents
      FROM rev
    )
    SELECT c.cohort_day, c.age_days, s.n_users, c.active_users,
           c.cum_revenue_cents,
           CAST((c.cum_revenue_cents * 100) // s.n_users AS DOUBLE)
             / CAST(10000.0 AS DOUBLE) AS ltv_per_user
    FROM cum c JOIN sizes s USING (cohort_day)
    """,
)
def analytics_cohort_ltv(spark, sf_dir):
    """Cohort lifetime-value curves: users cohorted by first purchase
    day, cumulative revenue per cohort by account age — the curve a
    growth team reads LTV payback from (the revenue twin of
    events_retention_cohort).  Revenue accumulates as exact integer
    cents (order-independent), LTV divides once at the end.  Plan: one
    filtered scan, a per-user min, one (cohort, age) groupBy, one
    bounded window over ≤ n_days rows per cohort."""
    from pyspark.sql.window import Window

    ev = read_table(spark, sf_dir, "events")
    p = ev.filter(
        (F.col("event_type") == "purchase") & F.col("value").isNotNull()
    ).select(
        "user_id",
        F.to_date(F.date_trunc("day", F.col("ts"))).alias("day"),
        F.round(F.col("value") * 100).cast("bigint").alias("cents"),
    )
    cohort = p.groupBy("user_id").agg(F.min("day").alias("cohort_day"))
    sizes = cohort.groupBy("cohort_day").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_users")
    )
    rev = (
        p.join(cohort, "user_id")
        .groupBy(
            "cohort_day",
            F.datediff(F.col("day"), F.col("cohort_day"))
            .cast("bigint").alias("age_days"),
        )
        .agg(
            F.sum("cents").cast("bigint").alias("day_cents"),
            F.countDistinct("user_id").cast("bigint").alias("active_users"),
        )
    )
    w = (
        Window.partitionBy("cohort_day").orderBy("age_days")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = rev.select(
        "cohort_day", "age_days", "active_users",
        F.sum("day_cents").over(w).cast("bigint").alias("cum_revenue_cents"),
    )
    # ltv floored at 4 dp via INTEGER division — round(cents/100.0/n, 4)
    # hit a cross-engine half-boundary at sf0.1; (cents·100) div n is
    # exact, and the same integer maps to the same double on both engines
    return cum.join(F.broadcast(sizes), "cohort_day").select(
        "cohort_day", "age_days", "n_users", "active_users",
        "cum_revenue_cents",
        (F.expr("(cum_revenue_cents * 100) DIV n_users").cast("double")
         / F.lit(10000.0)).alias("ltv_per_user"),
    )


# ---------------------------------------------------------------------------
# equi-width histogram profile
# ---------------------------------------------------------------------------


@q(
    "profiling_histogram_equiwidth",
    """
    WITH sc AS (SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS xc
                FROM orders),
    b AS (SELECT min(xc) AS lo, max(xc) AS hi FROM sc),
    bucketed AS (
      SELECT least((xc - lo) * 16 // (hi - lo + 1), 15) AS bucket, xc
      FROM sc, b
    )
    SELECT CAST(bucket AS BIGINT) AS bucket,
           CAST(count(*) AS BIGINT) AS n_rows,
           round(min(xc) / CAST(100.0 AS DOUBLE), 2) AS min_value,
           round(max(xc) / CAST(100.0 AS DOUBLE), 2) AS max_value
    FROM bucketed GROUP BY 1
    """,
)
def profiling_histogram_equiwidth(spark, sf_dir):
    """16-bucket equi-width histogram of order totals with ALL-INTEGER
    bucket assignment: 2-dp values scale to cents, bucket =
    (x−lo)·16 div (hi−lo+1) — no double division, so no boundary value
    can land in different buckets across engines (the class the LR
    calibration flake came from).  One scan + a 1-row min/max broadcast
    + a 16-key groupBy; the profile a query optimizer or drift monitor
    keeps per column."""
    o = read_table(spark, sf_dir, "orders")
    sc = o.select(
        F.round(F.col("o_totalprice") * 100).cast("bigint").alias("xc")
    )
    b = sc.agg(F.min("xc").alias("lo"), F.max("xc").alias("hi"))
    bucketed = sc.crossJoin(F.broadcast(b)).select(
        F.least(
            F.expr("(xc - lo) * 16 DIV (hi - lo + 1)"), F.lit(15)
        ).cast("bigint").alias("bucket"),
        "xc",
    )
    return bucketed.groupBy("bucket").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        F.round(F.min("xc") / F.lit(100.0), 2).alias("min_value"),
        F.round(F.max("xc") / F.lit(100.0), 2).alias("max_value"),
    )


@q(
    "profiling_histogram_equidepth",
    """
    WITH cells AS (
      SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS xc,
             CAST(count(*) AS BIGINT) AS n
      FROM orders GROUP BY 1
    ),
    tot AS (SELECT CAST(sum(n) AS BIGINT) AS t FROM cells),
    c AS (
      SELECT xc, n,
             sum(n) OVER (ORDER BY xc ROWS UNBOUNDED PRECEDING) AS cum
      FROM cells
    )
    SELECT CAST((cum - 1) * 8 // t AS BIGINT) AS bin,
           CAST(sum(n) AS BIGINT) AS n_rows,
           CAST(min(xc) AS BIGINT) AS lo_cents,
           CAST(max(xc) AS BIGINT) AS hi_cents
    FROM c, tot
    GROUP BY 1
    """,
)
def profiling_histogram_equidepth(spark, sf_dir):
    """8-bin equi-depth (equi-height) histogram of order totals — the
    histogram ANALYZE-style column statistics actually keep (equi-width
    wastes bins on empty ranges; equi-depth puts equal row mass per bin,
    which is what selectivity estimation needs).  The hard part at
    100 TB is that bin EDGES are quantiles: here every distinct value's
    inclusive CDF position comes from the two-phase bucketed prefix
    scan (operators/sweep.py — no single-task global window), and
    bin = (cum−1)·8 DIV t, an exact integer in 0..7, monotone in value.
    Assignment is per-VALUE, so heavy ties make bins honestly jagged
    (a value straddling a boundary lands wholly in one bin) — the same
    semantics as Spark's own equi-height ANALYZE histogram, where a
    frequent value owns its bins.  (cum−1)·8 stays in BIGINT until
    t ~ 1.1e18 rows.  One data pass to per-value cells (checkpointed),
    everything after is cell-bounded."""
    from .operators import sweep

    o = read_table(spark, sf_dir, "orders")
    cells = session.materialize(
        o.select(
            F.round(F.col("o_totalprice") * 100).cast("bigint").alias("xc")
        )
        .groupBy("xc")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    )
    # r12: the grand total rides the stats pass (extra_stats) instead of
    # the totals re-aggregation branch — one fewer pass over the cells
    b = sweep.value_range_buckets(
        cells, "xc", extra_stats={"total_n": F.sum("n").cast("bigint")}
    )
    c = sweep.bucketed_prefix_sum(b, "bk", ["xc"], {"n": "n"})
    return (
        c.select(
            F.expr("(cum_n - 1) * 8 DIV total_n").cast("bigint").alias("bin"),
            "xc", "n",
        )
        .groupBy("bin")
        .agg(
            F.sum("n").cast("bigint").alias("n_rows"),
            F.min("xc").cast("bigint").alias("lo_cents"),
            F.max("xc").cast("bigint").alias("hi_cents"),
        )
    )


@q(
    "profiling_histogram_grouped",
    """
    WITH cells AS (
      SELECT o_orderpriority AS seg,
             CAST(round(o_totalprice * 100) AS BIGINT) AS xc,
             CAST(count(*) AS BIGINT) AS n
      FROM orders GROUP BY 1, 2
    ),
    tot AS (SELECT seg, CAST(sum(n) AS BIGINT) AS t FROM cells GROUP BY 1),
    c AS (
      SELECT seg, xc, n,
             sum(n) OVER (PARTITION BY seg ORDER BY xc
                          ROWS UNBOUNDED PRECEDING) AS cum
      FROM cells
    )
    SELECT c.seg AS seg,
           CAST((cum - 1) * 8 // t AS BIGINT) AS bin,
           CAST(sum(n) AS BIGINT) AS n_rows,
           CAST(min(xc) AS BIGINT) AS lo_cents,
           CAST(max(xc) AS BIGINT) AS hi_cents
    FROM c JOIN tot ON tot.seg = c.seg
    GROUP BY 1, 2
    """,
)
def profiling_histogram_grouped(spark, sf_dir):
    """Per-segment equi-depth histogram — the GROUPED form of
    ``profiling_histogram_equidepth``: one 8-bin equi-height histogram
    of order totals per ``o_orderpriority``, the per-partition /
    per-segment statistic a catalog keeps when a global histogram would
    blur segment-local skew.  Same spine, now per-group end to end:
    per-(seg, value) cells (one data pass, checkpointed), per-group
    min/max gridding (``value_range_buckets(partition_cols=['seg'])``
    — a 5-row stats dim joined back, not a cross join), and the
    two-phase prefix scan partitioned by group
    (``bucketed_prefix_sum(partition_cols=['seg'])`` — the offsets dim
    is n_groups×256 rows, its across-bucket window partitioned by seg,
    so every window task stays ≤256 rows no matter how many segments).
    bin = (cum−1)·8 DIV t_seg with the PER-GROUP total, exact BIGINT.
    At 100 TB this is the shape ANALYZE ... PARTITION runs: nothing
    global anywhere, all dims broadcast-sized."""
    from .operators import sweep

    o = read_table(spark, sf_dir, "orders")
    cells = session.materialize(
        o.select(
            F.col("o_orderpriority").alias("seg"),
            F.round(F.col("o_totalprice") * 100).cast("bigint").alias("xc"),
        )
        .groupBy("seg", "xc")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    )
    # r12: the per-group total rides the per-group stats dim
    # (extra_stats) instead of the partitioned-totals join branch
    b = sweep.value_range_buckets(
        cells, "xc", partition_cols=["seg"],
        extra_stats={"total_n": F.sum("n").cast("bigint")},
    )
    c = sweep.bucketed_prefix_sum(
        b, "bk", ["xc"], {"n": "n"}, partition_cols=["seg"]
    )
    return (
        c.select(
            "seg",
            F.expr("(cum_n - 1) * 8 DIV total_n").cast("bigint").alias("bin"),
            "xc",
            "n",
        )
        .groupBy("seg", "bin")
        .agg(
            F.sum("n").cast("bigint").alias("n_rows"),
            F.min("xc").cast("bigint").alias("lo_cents"),
            F.max("xc").cast("bigint").alias("hi_cents"),
        )
    )


# ---------------------------------------------------------------------------
# embedding pipeline capstone
# ---------------------------------------------------------------------------


@q(
    "embedding_pipeline_e2e",
    f"""
    WITH {_EMB_D2_SQL},
    kept AS (
      SELECT d2.vec_id FROM d2, st
      WHERE (dist2 - s1 / n)
            <= 2.0 * sqrt(greatest(s2 / n - (s1 / n) * (s1 / n),
                                   CAST(1e-18 AS DOUBLE)))
    ),
    norms AS (SELECT vec_id, sqrt(sum(x * x)) AS nrm FROM vx GROUP BY vec_id),
    cen AS (SELECT vec_id AS cid FROM embeddings
            WHERE vec_id % (SELECT greatest(61, CAST(floor(sqrt(count(*))) AS BIGINT))
                            FROM embeddings) = 0),
    adots AS (
      SELECT v.vec_id AS id, c.cid,
             round(sum(v.x * cv.x) / (nv.nrm * nc.nrm), 6) AS cos
      FROM vx v
      JOIN kept k ON k.vec_id = v.vec_id
      JOIN cen c ON true
      JOIN vx cv ON cv.vec_id = c.cid AND cv.i = v.i
      JOIN norms nv ON nv.vec_id = v.vec_id
      JOIN norms nc ON nc.vec_id = c.cid
      GROUP BY v.vec_id, c.cid, nv.nrm, nc.nrm
    ),
    assign AS (
      SELECT id, cid FROM (
        SELECT *, row_number() OVER (PARTITION BY id ORDER BY cos DESC, cid) AS rn
        FROM adots) WHERE rn = 1
    ),
    ranked AS (
      SELECT id, cid,
             row_number() OVER (
               PARTITION BY cid
               ORDER BY md5('embsel-v1::' || CAST(id AS VARCHAR)), id) AS rk
      FROM assign
    )
    SELECT CAST(cid AS BIGINT) AS cell,
           CAST(count(*) AS BIGINT) AS n_members,
           CAST(sum(CASE WHEN rk <= 8 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_selected,
           CAST(min(id) AS BIGINT) AS min_vec_id
    FROM ranked GROUP BY cid
    """,
)
def embedding_pipeline_e2e(spark, sf_dir):
    """The embedding-side training-data pipeline as ONE plan (the
    vector twin of curation_web_pipeline_e2e): centroid-outlier
    removal (keep z ≤ 2, DECIMAL-exact moments) → IVF cell assignment
    (√n centroids, the Arrow batched-scoring operator) → per-cell
    deterministic md5-rank sampling (≤ 8 per cell — cluster-balanced so
    dense template regions can't dominate the sample) → per-cell
    report.  Every stage is an already-green operator; the oracle
    replays outlier filter, assignment, and sampling as one CTE chain,
    so a value match covers the composition, not just the parts.

    The IVF stride (√n centroids) needs the table row count BEFORE the
    centroid collect; r9 reads it from the parquet footer metadata
    (``num_rows`` — a statistics lookup, zero data scanned) instead of
    an eager ``e.count()`` full-scan job — at 100 TB that count comes
    from catalog statistics, never a re-scan."""
    import math
    from .operators import similarity
    from .queries_core import table_num_rows

    e = read_table(spark, sf_dir, "embeddings")
    n_rows = table_num_rows(sf_dir, "embeddings")
    d2, st = _emb_d2(e)
    mu = F.col("s1") / F.col("n")
    sig = F.sqrt(
        F.greatest(F.col("s2") / F.col("n") - mu * mu, F.lit(1e-18))
    )
    kept_ids = (
        d2.crossJoin(F.broadcast(st))
        .filter((F.col("dist2") - mu) <= F.lit(2.0) * sig)
        .select("vec_id")
    )
    stride = max(61, int(math.isqrt(n_rows)))
    centroids = e.filter(F.col("vec_id") % stride == 0)
    kept = e.join(kept_ids, "vec_id", "left_semi")
    assign = similarity.assign_ivf_centroid(kept, centroids)
    from pyspark.sql.window import Window

    rk = F.row_number().over(
        Window.partitionBy("centroid_id").orderBy(
            F.md5(F.concat(F.lit("embsel-v1::"), F.col("id").cast("string"))),
            "id",
        )
    )
    ranked = assign.select("id", "centroid_id", rk.alias("rk"))
    return ranked.groupBy("centroid_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_members"),
        F.sum(F.when(F.col("rk") <= 8, 1).otherwise(0))
        .cast("bigint").alias("n_selected"),
        F.min("id").cast("bigint").alias("min_vec_id"),
    ).select(
        F.col("centroid_id").cast("bigint").alias("cell"),
        "n_members", "n_selected", "min_vec_id",
    )


# ---------------------------------------------------------------------------
# MMR diversified re-ranking
# ---------------------------------------------------------------------------

_MMR_ROUND = """
    m{r} AS (
      SELECT c.id, c.rel, max(s.sim) AS ms
      FROM cand c
      JOIN sims s ON s.ia = c.id
      JOIN sel{p} ON s.ib = sel{p}.id
      WHERE c.id NOT IN (SELECT id FROM sel{p})
      GROUP BY c.id, c.rel
    ),
    s{r} AS (
      SELECT id, rel,
             round(CAST(0.7 AS DOUBLE) * rel - CAST(0.3 AS DOUBLE) * ms, 6)
               AS score,
             CAST({r} AS BIGINT) AS rank
      FROM m{r} ORDER BY score DESC, id LIMIT 1
    ),
    sel{r} AS (SELECT id FROM sel{p} UNION ALL SELECT id FROM s{r})"""


@q(
    "similarity_mmr_rerank",
    f"""
    WITH idx AS (SELECT unnest(generate_series(1, 64)) AS i),
    vx AS (SELECT vec_id, i, CAST(embedding[i] AS DOUBLE) AS x
           FROM embeddings, idx),
    norms AS (SELECT vec_id, sqrt(sum(x * x)) AS nrm FROM vx GROUP BY vec_id),
    rel AS (
      SELECT v.vec_id AS id,
             round(sum(v.x * q.x) / (nv.nrm * nq.nrm), 6) AS rel
      FROM vx v
      JOIN vx q ON q.vec_id = 0 AND q.i = v.i
      JOIN norms nv ON nv.vec_id = v.vec_id
      JOIN norms nq ON nq.vec_id = 0
      WHERE v.vec_id != 0
      GROUP BY v.vec_id, nv.nrm, nq.nrm
    ),
    cand AS MATERIALIZED (
      SELECT id, rel FROM (
        SELECT *, row_number() OVER (ORDER BY rel DESC, id) AS rn FROM rel
      ) WHERE rn <= 20
    ),
    sims AS MATERIALIZED (
      SELECT a.vec_id AS ia, b.vec_id AS ib,
             round(sum(a.x * b.x) / (na.nrm * nb.nrm), 6) AS sim
      FROM vx a
      JOIN cand ca ON ca.id = a.vec_id
      JOIN vx b ON b.i = a.i AND b.vec_id != a.vec_id
      JOIN cand cb ON cb.id = b.vec_id
      JOIN norms na ON na.vec_id = a.vec_id
      JOIN norms nb ON nb.vec_id = b.vec_id
      GROUP BY a.vec_id, b.vec_id, na.nrm, nb.nrm
    ),
    s1 AS (
      SELECT id, rel,
             round(CAST(0.7 AS DOUBLE) * rel - CAST(0.3 AS DOUBLE)
                   * CAST(0.0 AS DOUBLE), 6) AS score,
             CAST(1 AS BIGINT) AS rank
      FROM cand ORDER BY rel DESC, id LIMIT 1
    ),
    sel1 AS (SELECT id FROM s1),
    {_MMR_ROUND.format(r=2, p=1)},
    {_MMR_ROUND.format(r=3, p=2)},
    {_MMR_ROUND.format(r=4, p=3)},
    {_MMR_ROUND.format(r=5, p=4)}
    SELECT rank, id AS vec_id, rel, score FROM s1
    UNION ALL SELECT rank, id, rel, score FROM s2
    UNION ALL SELECT rank, id, rel, score FROM s3
    UNION ALL SELECT rank, id, rel, score FROM s4
    UNION ALL SELECT rank, id, rel, score FROM s5
    """,
)
def similarity_mmr_rerank(spark, sf_dir):
    """Maximal Marginal Relevance re-ranking (Carbonell & Goldstein
    1998): greedily pick 5 of the top-20 relevance candidates for query
    vec 0, each round maximizing λ·rel − (1−λ)·max-sim-to-selected
    (λ = 0.7) — the diversified-retrieval step after ANN, so near-
    duplicate hits don't fill the result page.  Deterministic: cosines
    round to 6 dp, the argmax tie-breaks by id, rounds are UNROLLED
    (fixed k, like pagerank/onion) and the oracle replays each one.
    Scale shape: relevance is one linear pass against a 1-vector
    broadcast; everything after runs on the 20-row candidate dim
    (20×20 sims), so the greedy loop costs nothing at any corpus
    size."""
    from pyspark.sql.window import Window

    e = read_table(spark, sf_dir, "embeddings")
    vx = e.select(
        "vec_id", F.posexplode("embedding").alias("i", "xf")
    ).select("vec_id", "i", F.col("xf").cast("double").alias("x"))
    norms = vx.groupBy("vec_id").agg(
        F.sqrt(F.sum(F.col("x") * F.col("x"))).alias("nrm")
    )
    qv = vx.filter(F.col("vec_id") == 0).select(
        F.col("i").alias("qi"), F.col("x").alias("qx")
    )
    qn = norms.filter(F.col("vec_id") == 0).select(
        F.col("nrm").alias("qnrm")
    )
    rel = (
        vx.filter(F.col("vec_id") != 0)
        .join(F.broadcast(qv), F.col("i") == F.col("qi"))
        .groupBy("vec_id")
        .agg(F.sum(F.col("x") * F.col("qx")).alias("_dot"))
        .join(norms, "vec_id")
        .crossJoin(F.broadcast(qn))
        .select(
            F.col("vec_id").alias("id"),
            F.round(F.col("_dot") / (F.col("nrm") * F.col("qnrm")), 6)
            .alias("rel"),
        )
    )
    # r13: the top-20 candidate cut is a deterministic total order, so
    # take it with orderBy().limit() — TakeOrderedAndProject, the
    # distributed per-partition top-k — instead of a global row_number
    # window, which put every relevance row (corpus-sized) through ONE
    # window task; the shape hid inside this checkpoint until the
    # extended pre-checkpoint scale audit (tests/test_scale_twins.py)
    # flagged it.  Same 20 rows: ties break by id in the same order.
    cand = session.materialize(
        rel.orderBy(F.col("rel").desc(), F.col("id"))
        .limit(20)
    )  # 20 rows; feeds every round
    ca = cand.select(F.col("id").alias("ia"))
    cb = cand.select(F.col("id").alias("ib"))
    a = vx.join(F.broadcast(ca), vx.vec_id == ca.ia).select(
        F.col("ia"), F.col("i"), F.col("x").alias("xa")
    )
    b = vx.join(F.broadcast(cb), vx.vec_id == cb.ib).select(
        F.col("ib"), F.col("i").alias("ib_i"), F.col("x").alias("xb")
    )
    na = norms.withColumnRenamed("vec_id", "ia").withColumnRenamed("nrm", "na")
    nb = norms.withColumnRenamed("vec_id", "ib").withColumnRenamed("nrm", "nb")
    sims = session.materialize(
        a.join(b, (F.col("i") == F.col("ib_i")) & (F.col("ia") != F.col("ib")))
        .groupBy("ia", "ib")
        .agg(F.sum(F.col("xa") * F.col("xb")).alias("_dot"))
        .join(F.broadcast(na), "ia")
        .join(F.broadcast(nb), "ib")
        .select(
            "ia", "ib",
            F.round(F.col("_dot") / (F.col("na") * F.col("nb")), 6)
            .alias("sim"),
        )
    )  # 20×19 rows; probed every round
    lam, mu = F.lit(0.7), F.lit(0.3)
    s1 = (
        cand.select(
            "id", "rel",
            F.round(lam * F.col("rel") - mu * F.lit(0.0), 6).alias("score"),
            F.lit(1).cast("bigint").alias("rank"),
        )
        .orderBy(F.col("rel").desc(), F.col("id"))
        .limit(1)
    )
    out = s1
    selected = s1.select("id")
    for r in range(2, 6):
        ms = (
            sims.join(
                selected.withColumnRenamed("id", "ib"), "ib"
            )
            .groupBy("ia")
            .agg(F.max("sim").alias("ms"))
        )
        sr = (
            cand.join(selected, "id", "left_anti")
            .join(ms.withColumnRenamed("ia", "id"), "id")
            .select(
                "id", "rel",
                F.round(lam * F.col("rel") - mu * F.col("ms"), 6)
                .alias("score"),
                F.lit(r).cast("bigint").alias("rank"),
            )
            .orderBy(F.col("score").desc(), F.col("id"))
            .limit(1)
        )
        # 1-row eager checkpoint per round: each selection feeds BOTH the
        # output union and every later round's maxsim/anti-join — without
        # it the unrolled plan re-expands all prior rounds (40 exchanges)
        sr = session.materialize(sr)
        out = out.unionByName(sr)
        selected = selected.unionByName(sr.select("id"))
    return out.select("rank", F.col("id").alias("vec_id"), "rel", "score")


# ---------------------------------------------------------------------------
# language-ID confusion matrix
# ---------------------------------------------------------------------------


@q(
    "text_langid_confusion",
    f"""
    WITH v AS (
      SELECT doc_id, lang,
             {_votes_sql('de')} AS v_de, {_votes_sql('en')} AS v_en,
             {_votes_sql('es')} AS v_es, {_votes_sql('fr')} AS v_fr,
             {_votes_sql('it')} AS v_it
      FROM documents
    ),
    pred AS (
      SELECT lang AS lang_declared,
             CASE WHEN greatest(v_de, v_en, v_es, v_fr, v_it) = 0 THEN 'und'
                  WHEN v_de = greatest(v_de, v_en, v_es, v_fr, v_it) THEN 'de'
                  WHEN v_en = greatest(v_de, v_en, v_es, v_fr, v_it) THEN 'en'
                  WHEN v_es = greatest(v_de, v_en, v_es, v_fr, v_it) THEN 'es'
                  WHEN v_fr = greatest(v_de, v_en, v_es, v_fr, v_it) THEN 'fr'
                  ELSE 'it' END AS lang_pred
      FROM v
    ),
    cell AS (
      SELECT lang_declared, lang_pred, CAST(count(*) AS BIGINT) AS n_docs
      FROM pred GROUP BY 1, 2
    ),
    tot AS (
      SELECT lang_declared, sum(n_docs) AS t FROM cell GROUP BY 1
    )
    SELECT c.lang_declared, c.lang_pred, c.n_docs,
           CAST((c.n_docs * 10000) // t.t AS DOUBLE)
             / CAST(10000.0 AS DOUBLE) AS row_frac
    FROM cell c JOIN tot t USING (lang_declared)
    """,
)
def text_langid_confusion(spark, sf_dir):
    """Language-ID confusion matrix: the stopword-vote classifier's
    predictions cross-tabulated against the corpus's declared lang —
    the accuracy audit for the langid stage every curation pipeline
    gates on (text_langid emits per-doc rows; this is the evaluation).
    row_frac floors at 4 dp via integer division (the cohort-LTV
    lesson: round() on a double ratio can land on a cross-engine half
    boundary).  One scan, two bounded aggregates."""
    d = read_table(spark, sf_dir, "documents")
    pred = d.select(
        F.col("lang").alias("lang_declared"),
        textanalysis.detect_language("text").alias("lang_pred"),
    )
    cell = pred.groupBy("lang_declared", "lang_pred").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs")
    )
    tot = cell.groupBy("lang_declared").agg(F.sum("n_docs").alias("t"))
    return cell.join(F.broadcast(tot), "lang_declared").select(
        "lang_declared", "lang_pred", "n_docs",
        (F.expr("(n_docs * 10000) DIV t").cast("double")
         / F.lit(10000.0)).alias("row_frac"),
    )


# ---------------------------------------------------------------------------
# tokenizer fertility
# ---------------------------------------------------------------------------


@q(
    "text_tokenizer_fertility",
    f"""
    WITH c AS (
      SELECT lang,
             CAST(len(list_filter(string_split({_NORM}, ' '), x -> x != ''))
                  AS BIGINT) AS n_words,
             CAST(len(regexp_extract_all(lower(text),
                                         '[a-z]{{1,8}}|[0-9]{{1,3}}|[^a-z0-9 ]'))
                  AS BIGINT) AS n_bpe
      FROM documents
    )
    SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_words) AS BIGINT) AS n_words,
           CAST(sum(n_bpe) AS BIGINT) AS n_bpe_tokens,
           CAST((sum(n_bpe) * 10000) // greatest(sum(n_words), 1) AS DOUBLE)
             / CAST(10000.0 AS DOUBLE) AS fertility
    FROM c GROUP BY lang
    """,
)
def text_tokenizer_fertility(spark, sf_dir):
    """Tokenizer fertility by language: subword-proxy tokens per
    whitespace word — the budget multiplier that decides how many
    DOCUMENTS a per-language token budget buys (fertility 2.0 means the
    same text costs 2× the tokens; the classic multilingual-tokenizer
    fairness metric).  Exact integer sums; the ratio floors at 4 dp via
    integer division.  One scan, one per-language aggregate."""
    d = read_table(spark, sf_dir, "documents")
    c = d.select(
        "lang",
        textanalysis.token_count("text").cast("bigint").alias("n_words"),
        textanalysis.bpe_ish_token_count("text").cast("bigint").alias("n_bpe"),
    )
    return c.groupBy("lang").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("n_words").cast("bigint").alias("n_words"),
        F.sum("n_bpe").cast("bigint").alias("n_bpe_tokens"),
        (F.expr("(sum(n_bpe) * 10000) DIV greatest(sum(n_words), 1)")
         .cast("double") / F.lit(10000.0)).alias("fertility"),
    )


# ---------------------------------------------------------------------------
# sequence-packing fragmentation report
# ---------------------------------------------------------------------------


@q(
    "curation_sequence_packing",
    f"""
    WITH t AS (
      SELECT doc_id,
             ('0x' || substr(md5('pack-v1::' || CAST(doc_id AS VARCHAR)),
                             1, 8))::BIGINT % 4 AS shard,
             CAST(len(list_filter(string_split({_NORM}, ' '), x -> x != ''))
                  AS BIGINT) AS n_tokens
      FROM documents
    ),
    cum AS (
      SELECT doc_id, shard, n_tokens,
             CAST(sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
                                      ROWS BETWEEN UNBOUNDED PRECEDING
                                      AND CURRENT ROW) AS BIGINT) AS cum_toks
      FROM t
    ),
    marked AS (
      SELECT shard, n_tokens, cum_toks,
             (cum_toks - n_tokens) // 2048 != (cum_toks - 1) // 2048
               AS is_split
      FROM cum WHERE n_tokens > 0
    )
    SELECT shard, CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
           CAST((sum(n_tokens) + 2047) // 2048 AS BIGINT) AS n_bins,
           CAST((sum(n_tokens) + 2047) // 2048 * 2048 - sum(n_tokens)
                AS BIGINT) AS tail_padding,
           CAST(sum(CASE WHEN is_split THEN 1 ELSE 0 END) AS BIGINT)
             AS n_split_docs,
           CAST((sum(CASE WHEN is_split THEN 1 ELSE 0 END) * 10000)
                // count(*) AS DOUBLE) / CAST(10000.0 AS DOUBLE)
             AS split_frac
    FROM marked GROUP BY shard
    """,
)
def curation_sequence_packing(spark, sf_dir):
    """Concat-and-chunk sequence-packing fragmentation report: docs
    stream in deterministic (md5 shard, id) order, concatenate, and cut
    into 2048-token training sequences — the GPT-style packing that
    wastes no padding EXCEPT the tail, at the price of documents split
    across sequence boundaries (an attention-quality cost).  Per shard:
    bins used, tail padding, and the split-document count/fraction —
    the numbers that decide packing vs padding (companion to
    curation_length_bucket_padding, which reports the padding side).
    A doc splits iff its start and end land in different 2048 windows
    of the running total — all integer arithmetic.  One window per
    shard, one aggregate."""
    from pyspark.sql.window import Window

    d = read_table(spark, sf_dir, "documents")
    t = d.select(
        "doc_id",
        curation.split_bucket("doc_id", "pack-v1", buckets=4).alias("shard"),
        textanalysis.token_count("text").cast("bigint").alias("n_tokens"),
    )
    w = (
        Window.partitionBy("shard").orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = t.withColumn("cum_toks", F.sum("n_tokens").over(w).cast("bigint"))
    marked = cum.filter(F.col("n_tokens") > 0).select(
        "shard", "n_tokens", "cum_toks",
        F.expr("(cum_toks - n_tokens) DIV 2048 != (cum_toks - 1) DIV 2048")
        .alias("is_split"),
    )
    return marked.groupBy("shard").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("n_tokens").cast("bigint").alias("total_tokens"),
        F.expr("(sum(n_tokens) + 2047) DIV 2048").cast("bigint")
        .alias("n_bins"),
        F.expr("(sum(n_tokens) + 2047) DIV 2048 * 2048 - sum(n_tokens)")
        .cast("bigint").alias("tail_padding"),
        F.sum(F.when(F.col("is_split"), 1).otherwise(0)).cast("bigint")
        .alias("n_split_docs"),
        (F.expr("(sum(CASE WHEN is_split THEN 1 ELSE 0 END) * 10000)"
                " DIV count(*)").cast("double")
         / F.lit(10000.0)).alias("split_frac"),
    )


# ---------------------------------------------------------------------------
# active-user windows
# ---------------------------------------------------------------------------


@q(
    "events_dau_wau_mau",
    """
    WITH ud AS (
      SELECT DISTINCT user_id, CAST(date_trunc('day', ts) AS DATE) AS day
      FROM events
    ),
    days AS (SELECT DISTINCT day FROM ud),
    joined AS (
      SELECT d.day AS as_of, u.user_id, u.day AS uday
      FROM days d JOIN ud u
        ON u.day BETWEEN d.day - INTERVAL 27 DAY AND d.day
    ),
    agg AS (
      SELECT as_of,
             CAST(count(DISTINCT CASE WHEN uday = as_of
                                      THEN user_id END) AS BIGINT) AS dau,
             CAST(count(DISTINCT CASE WHEN uday >= as_of - INTERVAL 6 DAY
                                      THEN user_id END) AS BIGINT) AS wau,
             CAST(count(DISTINCT user_id) AS BIGINT) AS mau
      FROM joined GROUP BY as_of
    )
    SELECT as_of AS day, dau, wau, mau,
           CAST((dau * 10000) // mau AS DOUBLE) / CAST(10000.0 AS DOUBLE)
             AS stickiness
    FROM agg
    """,
)
def events_dau_wau_mau(spark, sf_dir):
    """DAU/WAU/MAU + stickiness (DAU/MAU) per day — the canonical
    product-health triplet, computed EXACTLY: events dedup to a
    (user, day) relation first (orders of magnitude smaller than the
    event log — the 100 TB valve), then one bounded range join against
    the day dim (≤ 28 activity rows per (day, user)) and one aggregate
    with conditional distincts, so the log is scanned once and no
    window ever holds raw events.  Stickiness floors at 4 dp via
    integer division.  The exact twin of sketch_hll_sliding_distinct's
    approximate path."""
    ev = read_table(spark, sf_dir, "events")
    ud = ev.select(
        "user_id", F.to_date(F.date_trunc("day", F.col("ts"))).alias("day")
    ).distinct()
    days = ud.select(F.col("day").alias("as_of")).distinct()
    joined = ud.join(
        F.broadcast(days),
        (F.col("day") <= F.col("as_of"))
        & (F.col("day") >= F.date_sub(F.col("as_of"), 27)),
    )
    agg = joined.groupBy("as_of").agg(
        F.countDistinct(
            F.when(F.col("day") == F.col("as_of"), F.col("user_id"))
        ).cast("bigint").alias("dau"),
        F.countDistinct(
            F.when(F.col("day") >= F.date_sub(F.col("as_of"), 6),
                   F.col("user_id"))
        ).cast("bigint").alias("wau"),
        F.countDistinct("user_id").cast("bigint").alias("mau"),
    )
    return agg.select(
        F.col("as_of").alias("day"), "dau", "wau", "mau",
        (F.expr("(dau * 10000) DIV mau").cast("double")
         / F.lit(10000.0)).alias("stickiness"),
    )


# ---------------------------------------------------------------------------
# dedup threshold tradeoff curve
# ---------------------------------------------------------------------------


@q(
    "curation_dedup_tradeoff",
    f"""
    WITH {{cand}},
    dsh AS (SELECT DISTINCT doc_id, sh FROM sh),
    sizes AS (SELECT doc_id, count(*) AS n FROM dsh GROUP BY 1),
    jp AS (
      SELECT c.id_a, c.id_b,
             round(CAST(cnt AS DOUBLE) / (sa.n + sb.n - cnt), 6) AS jacc
      FROM (
        SELECT c.id_a, c.id_b, count(*) AS cnt
        FROM cand c
        JOIN dsh a ON a.doc_id = c.id_a
        JOIN dsh b ON b.doc_id = c.id_b AND b.sh = a.sh
        GROUP BY c.id_a, c.id_b
      ) c
      JOIN sizes sa ON sa.doc_id = c.id_a
      JOIN sizes sb ON sb.doc_id = c.id_b
    ),
    thr AS (SELECT unnest([CAST(0.2 AS DOUBLE), CAST(0.3 AS DOUBLE),
                           CAST(0.4 AS DOUBLE), CAST(0.5 AS DOUBLE),
                           CAST(0.6 AS DOUBLE), CAST(0.7 AS DOUBLE),
                           CAST(0.8 AS DOUBLE)]) AS threshold),
    nn AS (SELECT count(*) AS n_corpus FROM documents)
    SELECT t.threshold,
           CAST(count(jp.id_a) AS BIGINT) AS n_pairs,
           CAST(count(DISTINCT jp.id_b) AS BIGINT) AS n_docs_removed,
           CAST((count(DISTINCT jp.id_b) * 10000) // nn.n_corpus AS DOUBLE)
             / CAST(10000.0 AS DOUBLE) AS removal_frac
    FROM thr t
    LEFT JOIN jp ON jp.jacc >= t.threshold
    CROSS JOIN nn
    GROUP BY t.threshold, nn.n_corpus
    """.format(cand=_CAND),
)
def curation_dedup_tradeoff(spark, sf_dir):
    """Dedup threshold tradeoff curve: for seven Jaccard thresholds,
    how many candidate pairs verify and how much of the corpus the
    keep-min-id rule would remove — the tuning artifact that turns "the
    threshold is 0.3" from folklore into a measured elbow.  One
    LSH-bounded verify pass computes every pair's Jaccard ONCE; the
    7-row threshold dim joins on top, so sweeping costs nothing extra
    (removal counts use the one-step min-id rule: the higher id of a
    verified pair is removed — the transitive-closure variant is
    dedup_cluster_size_histogram's job).  Removal fraction floors at
    4 dp via integer division."""
    d = read_table(spark, sf_dir, "documents")
    sig = dedup.minhash_signature(d, "doc_id", "text", num_hashes=4, k=3)
    cand = dedup.lsh_candidate_pairs(dedup.lsh_bands(sig, rows_per_band=2))
    jp = session.materialize(
        dedup.ngram_jaccard_pairs(d, "doc_id", "text", k=3, threshold=0.0, candidates=cand)
    )  # one verify pass feeds all 7 thresholds
    thr = spark.range(1).select(
        F.explode(
            F.array(*[F.lit(x) for x in (0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8)])
        ).alias("threshold")
    )
    nn = d.agg(F.count(F.lit(1)).alias("n_corpus"))
    joined = thr.join(jp, jp["jacc"] >= thr["threshold"], "left")
    return (
        joined.crossJoin(F.broadcast(nn))
        .groupBy("threshold", "n_corpus")
        .agg(
            F.count("id_a").cast("bigint").alias("n_pairs"),
            F.countDistinct("id_b").cast("bigint").alias("n_docs_removed"),
        )
        .select(
            "threshold", "n_pairs", "n_docs_removed",
            (F.expr("(n_docs_removed * 10000) DIV n_corpus").cast("double")
             / F.lit(10000.0)).alias("removal_frac"),
        )
    )


# ---------------------------------------------------------------------------
# referential integrity
# ---------------------------------------------------------------------------


@q(
    "quality_referential_integrity",
    """
    WITH checks AS (
      SELECT 'lineitem' AS fk_table, 'l_orderkey' AS fk_column,
             'orders' AS pk_table,
             CAST((SELECT count(*) FROM lineitem) AS BIGINT) AS n_fk_rows,
             CAST((SELECT count(*) FROM lineitem l
                   WHERE l.l_orderkey IS NOT NULL
                     AND NOT EXISTS (SELECT 1 FROM orders o
                                     WHERE o.o_orderkey = l.l_orderkey))
                  AS BIGINT) AS n_orphans
      UNION ALL
      SELECT 'orders', 'o_custkey', 'customer',
             CAST((SELECT count(*) FROM orders) AS BIGINT),
             CAST((SELECT count(*) FROM orders o
                   WHERE o.o_custkey IS NOT NULL
                     AND NOT EXISTS (SELECT 1 FROM customer c
                                     WHERE c.c_custkey = o.o_custkey))
                  AS BIGINT)
      UNION ALL
      SELECT 'customer', 'c_nationkey', 'nation',
             CAST((SELECT count(*) FROM customer) AS BIGINT),
             CAST((SELECT count(*) FROM customer c
                   WHERE c.c_nationkey IS NOT NULL
                     AND NOT EXISTS (SELECT 1 FROM nation n
                                     WHERE n.n_nationkey = c.c_nationkey))
                  AS BIGINT)
      UNION ALL
      SELECT 'supplier', 's_nationkey', 'nation',
             CAST((SELECT count(*) FROM supplier) AS BIGINT),
             CAST((SELECT count(*) FROM supplier s
                   WHERE s.s_nationkey IS NOT NULL
                     AND NOT EXISTS (SELECT 1 FROM nation n
                                     WHERE n.n_nationkey = s.s_nationkey))
                  AS BIGINT)
    )
    SELECT fk_table, fk_column, pk_table, n_fk_rows, n_orphans,
           n_orphans = 0 AS passed
    FROM checks
    """,
)
def quality_referential_integrity(spark, sf_dir):
    """Cross-table referential-integrity report: orphan counts for the
    star schema's four FK edges — the DQ check that catches a partial
    load or a broken CDC feed before any join silently drops rows
    (companion to quality_constraints' single-table contract and
    profiling_join_fanout's cardinality guard).  Each edge is one
    left-anti join on the key; the dimension sides broadcast.  At
    100 TB the anti-join shuffles only the FK column."""
    li = read_table(spark, sf_dir, "lineitem")
    o = read_table(spark, sf_dir, "orders")
    c = read_table(spark, sf_dir, "customer")
    s = read_table(spark, sf_dir, "supplier")
    n = read_table(spark, sf_dir, "nation")

    def edge(fk_df, fk_table, fk_col, pk_df, pk_table, pk_col, bcast):
        total = fk_df.agg(F.count(F.lit(1)).cast("bigint").alias("n_fk_rows"))
        pk = F.broadcast(pk_df) if bcast else pk_df
        orphans = (
            fk_df.filter(F.col(fk_col).isNotNull())
            .join(pk, fk_df[fk_col] == pk_df[pk_col], "left_anti")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_orphans"))
        )
        return total.crossJoin(orphans).select(
            F.lit(fk_table).alias("fk_table"),
            F.lit(fk_col).alias("fk_column"),
            F.lit(pk_table).alias("pk_table"),
            "n_fk_rows", "n_orphans",
            (F.col("n_orphans") == 0).alias("passed"),
        )

    return (
        edge(li, "lineitem", "l_orderkey", o, "orders", "o_orderkey", False)
        .unionByName(edge(o, "orders", "o_custkey", c, "customer",
                          "c_custkey", True))
        .unionByName(edge(c, "customer", "c_nationkey", n, "nation",
                          "n_nationkey", True))
        .unionByName(edge(s, "supplier", "s_nationkey", n, "nation",
                          "n_nationkey", True))
    )


# ---------------------------------------------------------------------------
# forecast backtest
# ---------------------------------------------------------------------------


@q(
    "events_forecast_backtest",
    """
    WITH daily AS (
      SELECT event_type, date_trunc('day', ts) AS day,
             CAST(count(*) AS DOUBLE) AS x
      FROM events GROUP BY 1, 2
    ),
    mx AS (SELECT event_type, max(day) AS last_day FROM daily GROUP BY 1),
    train AS (
      SELECT d.event_type, d.day, d.x
      FROM daily d JOIN mx ON mx.event_type = d.event_type
      WHERE d.day < mx.last_day
    ),
    ord AS MATERIALIZED (
      SELECT event_type, x,
             CAST(row_number() OVER (PARTITION BY event_type ORDER BY day)
                  AS BIGINT) AS i
      FROM train
    ),
    rec AS MATERIALIZED (
      WITH RECURSIVE r(event_type, i, level, trend) AS (
        SELECT event_type, i, x, CAST(0.0 AS DOUBLE)
        FROM ord WHERE i = 1
        UNION ALL
        SELECT r.event_type, r.i + 1,
               CAST(0.5 AS DOUBLE) * o.x + CAST(0.5 AS DOUBLE) * r.level
                 + CAST(0.5 AS DOUBLE) * r.trend,
               CAST(0.25 AS DOUBLE) * o.x - CAST(0.25 AS DOUBLE) * r.level
                 + CAST(0.75 AS DOUBLE) * r.trend
        FROM r JOIN ord o ON o.event_type = r.event_type AND o.i = r.i + 1
      )
      SELECT * FROM r
    ),
    fin AS (SELECT event_type, max(i) AS n FROM rec GROUP BY 1),
    fc AS (
      SELECT r.event_type, CAST(fin.n AS BIGINT) AS n_train_days,
             round(r.level + r.trend, 6) AS forecast
      FROM rec r JOIN fin ON fin.event_type = r.event_type AND r.i = fin.n
    ),
    actual AS (
      SELECT d.event_type, CAST(d.x AS BIGINT) AS actual
      FROM daily d JOIN mx ON mx.event_type = d.event_type
                          AND d.day = mx.last_day
    )
    SELECT f.event_type, f.n_train_days, f.forecast, a.actual,
           round(abs(f.forecast - a.actual), 6) AS abs_error,
           CAST((CAST(round(abs(f.forecast - a.actual) * 1000000) AS BIGINT)
                 * 10000) // (a.actual * 1000000) AS DOUBLE)
             / CAST(10000.0 AS DOUBLE) AS ape
    FROM fc f JOIN actual a USING (event_type)
    """,
)
def events_forecast_backtest(spark, sf_dir):
    """Walk-forward backtest of the Holt forecaster: train on every day
    but the last, forecast the held-out day, report absolute error and
    APE per series — the honesty check that keeps a forecasting
    operator from being judged on fit alone (companion to
    analytics_holt_linear, which smooths the full history).  APE floors
    at 4 dp via integer division on the 6-dp-scaled error.  Same plan
    shape as the forecaster plus one broadcast max-day dim."""
    ev = read_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.date_trunc("day", F.col("ts")).alias("day")
    ).agg(F.count(F.lit(1)).cast("double").alias("x"))
    mx = daily.groupBy("event_type").agg(F.max("day").alias("last_day"))
    train = daily.join(F.broadcast(mx), "event_type").filter(
        F.col("day") < F.col("last_day")
    )
    fc = behavior.holt_linear_forecast(
        train, "event_type", "day", "x", alpha=0.5, beta=0.5
    ).select(
        "event_type",
        F.col("n_periods").alias("n_train_days"),
        F.col("forecast_next").alias("forecast"),
    )
    actual = daily.join(F.broadcast(mx), "event_type").filter(
        F.col("day") == F.col("last_day")
    ).select("event_type", F.col("x").cast("bigint").alias("actual"))
    err = F.round(F.abs(F.col("forecast") - F.col("actual")), 6)
    return fc.join(actual, "event_type").select(
        "event_type", "n_train_days", "forecast", "actual",
        err.alias("abs_error"),
        (F.expr("(CAST(round(abs(forecast - actual) * 1000000) AS BIGINT)"
                " * 10000) DIV (actual * 1000000)").cast("double")
         / F.lit(10000.0)).alias("ape"),
    )


# ---------------------------------------------------------------------------
# anomaly-detector ensemble capstone
# ---------------------------------------------------------------------------


@q(
    "events_anomaly_ensemble",
    """
    WITH buckets AS (
      SELECT event_type, date_trunc('hour', ts) AS bucket_hour,
             CAST(count(*) AS BIGINT) AS n_events
      FROM events GROUP BY 1, 2
    ),
    zs AS (
      SELECT event_type, bucket_hour, n_events,
             CAST(count(*) OVER w AS DOUBLE) AS n,
             CAST(sum(n_events) OVER w AS DOUBLE) AS sx,
             CAST(sum(n_events * n_events) OVER w AS DOUBLE) AS sxx
      FROM buckets
      WINDOW w AS (PARTITION BY event_type ORDER BY bucket_hour
                   ROWS BETWEEN 24 PRECEDING AND 1 PRECEDING)
    ),
    zflag AS (
      SELECT event_type, bucket_hour,
             abs(CASE WHEN (sxx - sx * sx / n) / (n - 1.0) > 0
                      THEN round((CAST(n_events AS DOUBLE) - sx / n)
                                 / sqrt((sxx - sx * sx / n) / (n - 1.0)), 6)
                      WHEN CAST(n_events AS DOUBLE) = sx / n THEN 0.0
                      WHEN CAST(n_events AS DOUBLE) > sx / n THEN 1e9
                      ELSE -1e9 END) > 3.0 AS z_flag
      FROM zs WHERE n >= 24
    ),
    seas AS (
      SELECT event_type, bucket_hour,
             CAST(sum(n_events) OVER w AS BIGINT) AS tot,
             CAST(count(*) OVER w AS BIGINT) AS n, n_events
      FROM buckets
      WINDOW w AS (PARTITION BY event_type, hour(bucket_hour))
    ),
    sflag AS (
      SELECT event_type, bucket_hour,
             CASE WHEN n > 1
                  THEN (n_events * (n - 1) > 2 * (tot - n_events))
                    OR (2 * n_events * (n - 1) < (tot - n_events))
                  ELSE FALSE END AS seasonal_flag
      FROM seas
    ),
    cstats AS (
      SELECT *,
             CAST(count(*) OVER (PARTITION BY event_type) AS BIGINT) AS t,
             CAST(sum(n_events) OVER (PARTITION BY event_type) AS BIGINT)
               AS total
      FROM buckets
    ),
    cpfx AS (
      SELECT *,
             CAST(sum(t * n_events - total) OVER
               (PARTITION BY event_type ORDER BY bucket_hour
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
               AS p
      FROM cstats
    ),
    cflag AS (
      SELECT event_type, bucket_hour, n_events,
             ((p - least(CAST(0 AS BIGINT),
                         CAST(min(p) OVER (PARTITION BY event_type
                              ORDER BY bucket_hour ROWS BETWEEN UNBOUNDED
                              PRECEDING AND CURRENT ROW) AS BIGINT))) * 40
                > total * t)
             OR ((greatest(CAST(0 AS BIGINT),
                           CAST(max(p) OVER (PARTITION BY event_type
                                ORDER BY bucket_hour ROWS BETWEEN UNBOUNDED
                                PRECEDING AND CURRENT ROW) AS BIGINT)) - p)
                 * 40 > total * t) AS cusum_flag
      FROM cpfx
    ),
    ens AS (
      SELECT c.event_type, c.bucket_hour, c.n_events,
             coalesce(z.z_flag, FALSE) AS z_flag,
             s.seasonal_flag, c.cusum_flag
      FROM cflag c
      JOIN sflag s ON s.event_type = c.event_type
                  AND s.bucket_hour = c.bucket_hour
      LEFT JOIN zflag z ON z.event_type = c.event_type
                       AND z.bucket_hour = c.bucket_hour
    )
    SELECT event_type, bucket_hour, n_events, z_flag, seasonal_flag,
           cusum_flag,
           CAST((CASE WHEN z_flag THEN 1 ELSE 0 END)
              + (CASE WHEN seasonal_flag THEN 1 ELSE 0 END)
              + (CASE WHEN cusum_flag THEN 1 ELSE 0 END) AS BIGINT)
             AS n_votes
    FROM ens
    WHERE z_flag OR seasonal_flag OR cusum_flag
    """,
)
def events_anomaly_ensemble(spark, sf_dir):
    """Anomaly-detector ensemble (the events-family capstone): the
    rolling z-score (|z| > 3 vs the trailing 24 h), the leave-one-out
    hour-of-day seasonal screen, and Page's CUSUM drift detector vote
    on the SAME hourly buckets; every bucket any detector flags is
    emitted with its per-detector flags and vote count — the consensus
    report an on-call actually pages on (one detector = investigate,
    two+ = incident), and the side-by-side that shows WHICH failure
    mode fired (spike vs seasonality break vs persistent shift).  All
    three detectors reuse the already-green operators over one shared
    bucket aggregate; the plan is one groupBy + four window passes +
    two bucket-keyed joins — no raw-event shuffle after the first
    aggregate."""
    ev = read_table(spark, sf_dir, "events")
    spine = behavior.cusum_drift(ev, flag_den=40).select(
        "event_type",
        F.to_timestamp("bucket_hour").alias("bucket_hour"),
        "n_events",
        F.col("drift_flag").alias("cusum_flag"),
    )
    seas = behavior.seasonal_hod_anomaly(ev).select(
        "event_type", "bucket_hour",
        F.col("anomaly").alias("seasonal_flag"),
    )
    z = behavior.rolling_zscore(ev, window_rows=24).select(
        "event_type", "bucket_hour",
        (F.abs(F.col("zscore")) > 3.0).alias("z_flag"),
    )
    ens = (
        spine.join(seas, ["event_type", "bucket_hour"])
        .join(z, ["event_type", "bucket_hour"], "left")
        .select(
            "event_type", "bucket_hour", "n_events",
            F.coalesce(F.col("z_flag"), F.lit(False)).alias("z_flag"),
            "seasonal_flag", "cusum_flag",
        )
    )
    votes = (
        F.when(F.col("z_flag"), 1).otherwise(0)
        + F.when(F.col("seasonal_flag"), 1).otherwise(0)
        + F.when(F.col("cusum_flag"), 1).otherwise(0)
    ).cast("bigint")
    return ens.withColumn("n_votes", votes).filter(
        F.col("z_flag") | F.col("seasonal_flag") | F.col("cusum_flag")
    )


# ---------------------------------------------------------------------------
# mixture-driven token allocation
# ---------------------------------------------------------------------------


@q(
    "curation_mixture_allocation",
    f"""
    WITH {_QUALITY_CTE},
    dom AS (
      SELECT source AS domain, CAST(count(*) AS BIGINT) AS n_docs,
             round(CAST(1.0 AS DOUBLE)
                   - CAST(sum(CAST(round(quality, 9) AS DECIMAL(28,12)))
                          AS DOUBLE) / count(*), 9) AS domain_loss
      FROM scored GROUP BY source
    ),
    kk AS (SELECT count(*) AS k FROM dom),
    w0 AS (SELECT domain, n_docs, domain_loss,
                  round(CAST(1.0 AS DOUBLE) / k, 9) AS weight
           FROM dom, kk),
    {_MW_ROUND.format(t=1, p=0)},
    {_MW_ROUND.format(t=2, p=1)},
    {_MW_ROUND.format(t=3, p=2)},
    avail AS (
      SELECT source AS domain,
             CAST(sum(len(list_filter(string_split({_NORM}, ' '),
                                      x -> x != ''))) AS BIGINT)
               AS available_tokens
      FROM documents GROUP BY source
    )
    SELECT w.domain, w.weight, a.available_tokens,
           CAST(floor(w.weight * 20000) AS BIGINT) AS target_tokens,
           least(CAST(floor(w.weight * 20000) AS BIGINT),
                 a.available_tokens) AS take_tokens,
           greatest(CAST(floor(w.weight * 20000) AS BIGINT)
                    - a.available_tokens, 0) AS deficit,
           CAST(floor(w.weight * 20000) AS BIGINT) > a.available_tokens
             AS oversubscribed
    FROM w3 w JOIN avail a USING (domain)
    """,
)
def curation_mixture_allocation(spark, sf_dir):
    """Mixture → allocation: turn the DoReMi weights into per-domain
    token quotas against a fixed 20k-token budget and report each
    domain's availability, take, and DEFICIT — the step that turns a
    reweighting paper result into a sampling plan, and the report that
    flags when an upweighted domain simply doesn't have the tokens
    (epoch-repeat territory).  floor(weight · budget) is a pure double
    op on identical bits, so no rounding boundary; everything else is
    integer.  One extra per-domain token aggregate on top of the
    (checkpointed) mixture rounds."""
    d = read_table(spark, sf_dir, "documents")
    w = curation.domain_mixture_weights(
        d, "source", textanalysis.quality_score("text"), rounds=3, eta=0.5
    )
    avail = d.groupBy(F.col("source").alias("domain")).agg(
        F.sum(textanalysis.token_count("text")).cast("bigint")
        .alias("available_tokens")
    )
    target = F.floor(F.col("weight") * 20000).cast("bigint")
    return w.join(avail, "domain").select(
        "domain", "weight", "available_tokens",
        target.alias("target_tokens"),
        F.least(target, F.col("available_tokens")).alias("take_tokens"),
        F.greatest(target - F.col("available_tokens"), F.lit(0).cast("bigint"))
        .alias("deficit"),
        (target > F.col("available_tokens")).alias("oversubscribed"),
    )


# ---------------------------------------------------------------------------
# SLO error-budget burn
# ---------------------------------------------------------------------------


@q(
    "events_slo_burn",
    """
    WITH hourly AS (
      SELECT date_trunc('hour', ts) AS bucket_hour,
             CAST(count(*) AS BIGINT) AS n_total,
             CAST(count(*) FILTER (event_type = 'error') AS BIGINT)
               AS n_errors
      FROM events GROUP BY 1
    ),
    cum AS (
      SELECT *,
             CAST(sum(n_total) OVER w AS BIGINT) AS cum_total,
             CAST(sum(n_errors) OVER w AS BIGINT) AS cum_errors
      FROM hourly
      WINDOW w AS (ORDER BY bucket_hour ROWS BETWEEN UNBOUNDED PRECEDING
                   AND CURRENT ROW)
    )
    SELECT bucket_hour, n_total, n_errors,
           CAST((n_errors * 10000) // n_total AS BIGINT) AS rate_bp,
           CAST((n_errors * 10000 * 100) // (n_total * 2500) AS BIGINT)
             AS burn_x100,
           CAST((cum_errors * 10000) // cum_total AS BIGINT) AS cum_rate_bp,
           cum_errors * 10000 > 2500 * cum_total AS budget_exhausted
    FROM cum
    """,
)
def events_slo_burn(spark, sf_dir):
    """SLO error-budget burn report (SRE multiwindow style): per hour,
    the error rate in basis points, the burn multiple vs a 25% error
    SLO (×100 — burn_x100 = 100 means burning exactly at budget), and
    the cumulative rate/exhaustion flag — the alerting math behind
    'page when the 1 h burn rate exceeds N× budget', as data.  ALL
    integer arithmetic (rates in basis points via integer division), so
    no rounding class can flip a flag.  One coarse-key groupBy + one
    running window over hours — bounded keys end to end.

    Scale note: the cumulative window is GLOBAL and un-partitioned —
    single-task by construction, exactly like events_dau_wau_mau's
    final window.  That is safe because its input is the hourly
    aggregate, one row per calendar hour (~9k rows/year regardless of
    event volume): the heavy reduction happens in the partitioned
    groupBy; the window only folds the calendar-bounded result."""
    from pyspark.sql.window import Window

    ev = read_table(spark, sf_dir, "events")
    hourly = ev.groupBy(
        F.date_trunc("hour", F.col("ts")).alias("bucket_hour")
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_total"),
        F.sum(F.when(F.col("event_type") == "error", 1).otherwise(0))
        .cast("bigint").alias("n_errors"),
    )
    w = Window.orderBy("bucket_hour").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = hourly.select(
        "*",
        F.sum("n_total").over(w).cast("bigint").alias("cum_total"),
        F.sum("n_errors").over(w).cast("bigint").alias("cum_errors"),
    )
    return cum.select(
        "bucket_hour", "n_total", "n_errors",
        F.expr("(n_errors * 10000) DIV n_total").cast("bigint")
        .alias("rate_bp"),
        F.expr("(n_errors * 10000 * 100) DIV (n_total * 2500)")
        .cast("bigint").alias("burn_x100"),
        F.expr("(cum_errors * 10000) DIV cum_total").cast("bigint")
        .alias("cum_rate_bp"),
        (F.col("cum_errors") * 10000 > F.col("cum_total") * 2500)
        .alias("budget_exhausted"),
    )
