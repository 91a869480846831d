"""Oracle-checked queries for the join toolbox (as-of, skew salting) and
embedding near-duplicate pairs."""

from __future__ import annotations

from pyspark.sql import functions as F

from . import session
from .operators import joins, similarity, skew
from .queries_core import q, read_table, table_num_rows


@q(
    "asof_last_event",
    """
    WITH l AS (
      SELECT o_orderkey, o_custkey % 20 AS uid,
             CAST(o_orderdate AS TIMESTAMP) + INTERVAL 29 YEAR AS ots
      FROM orders
    ), j AS (
      SELECT l.o_orderkey, CAST(e.ts AS TIMESTAMP) AS ets, e.value,
             row_number() OVER (PARTITION BY l.o_orderkey
                                ORDER BY CAST(e.ts AS TIMESTAMP) DESC,
                                         e.event_id DESC) AS rn
      FROM l JOIN events e
        ON e.user_id = l.uid AND CAST(e.ts AS TIMESTAMP) <= l.ots
    )
    SELECT l.o_orderkey, CAST(j.ets AS VARCHAR) AS asof_ts,
           round(coalesce(j.value, -1), 2) AS asof_value
    FROM l LEFT JOIN (SELECT * FROM j WHERE rn = 1) j USING (o_orderkey)
    """,
)
def asof_last_event(spark, sf_dir):
    """As-of join: for each order (timestamp shifted into the events' 2024
    range), the latest event at-or-before it for user ``custkey % 20``.
    Spark side = scale-correct union+window; oracle = join+max_by."""
    o = read_table(spark, sf_dir, "orders")
    e = read_table(spark, sf_dir, "events")
    left = o.select(
        "o_orderkey",
        (F.col("o_custkey") % 20).alias("uid"),
        (F.col("o_orderdate").cast("timestamp") + F.expr("INTERVAL 29 YEAR")).alias("ots"),
    )
    right = e.select(
        F.col("user_id").alias("uid"),
        F.col("ts"),
        F.col("value"),
        F.col("event_id"),
    )
    # deterministic tiebreak on equal timestamps: order right rows by
    # (ts, event_id) before the window carry → last wins = max event_id
    out = joins.as_of_join(
        left,
        right,
        keys=["uid"],
        left_ts="ots",
        right_ts="ts",
        right_vals=["ts", "value"],
        right_order="event_id",
    )
    return out.select(
        "o_orderkey",
        F.col("asof_ts").cast("string").alias("asof_ts"),
        F.round(F.coalesce(F.col("asof_value"), F.lit(-1.0)), 2).alias("asof_value"),
    )


@q(
    "skew_salted_agg",
    """
    SELECT l_returnflag,
           round(sum(l_extendedprice), 2) AS sum_price,
           count(*) AS n_items,
           round(min(l_extendedprice), 2) AS min_price,
           round(max(l_extendedprice), 2) AS max_price
    FROM lineitem GROUP BY l_returnflag
    """,
)
def skew_salted(spark, sf_dir):
    """3-value grouping key = maximal skew; the salted two-stage plan keeps
    every reducer busy and must agree exactly with the plain GROUP BY."""
    li = read_table(spark, sf_dir, "lineitem")
    out = skew.salted_agg(
        li,
        ["l_returnflag"],
        salt_on=["l_orderkey", "l_linenumber"],
        buckets=8,
        sums=["l_extendedprice"],
        mins=["l_extendedprice"],
        maxs=["l_extendedprice"],
    )
    return out.select(
        "l_returnflag",
        F.round("sum_l_extendedprice", 2).alias("sum_price"),
        F.col("cnt").alias("n_items"),
        F.round("min_l_extendedprice", 2).alias("min_price"),
        F.round("max_l_extendedprice", 2).alias("max_price"),
    )


@q(
    "skew_salted_join",
    """
    SELECT l_orderkey, l_linenumber, o_orderstatus
    FROM lineitem JOIN orders ON o_orderkey = l_orderkey
    """,
)
def skew_salted_join(spark, sf_dir):
    li = read_table(spark, sf_dir, "lineitem").withColumnRenamed("l_orderkey", "k")
    o = read_table(spark, sf_dir, "orders").withColumnRenamed("o_orderkey", "k")
    out = skew.salted_join(
        li.select("k", "l_linenumber"), o.select("k", "o_orderstatus"), "k",
        buckets=4, fact_salt_on=["l_linenumber"],
    )
    return out.select(F.col("k").alias("l_orderkey"), "l_linenumber", "o_orderstatus")


@q(
    "similarity_neardup_pairs",
    """
    WITH idx AS (SELECT unnest(generate_series(1, 64)) AS i),
    vx AS (SELECT vec_id, i, CAST(embedding[i] AS DOUBLE) AS x FROM embeddings, idx),
    norms AS (SELECT vec_id, sqrt(sum(x * x)) AS nrm FROM vx GROUP BY vec_id),
    cen AS (SELECT vec_id AS cid FROM embeddings
            WHERE vec_id % (SELECT greatest(61, CAST(floor(sqrt(count(*))) AS BIGINT))
                            FROM embeddings) = 0),
    adots AS (
      SELECT v.vec_id AS id, c.cid,
             round(sum(v.x * cv.x) / (nv.nrm * nc.nrm), 6) AS cos
      FROM vx v
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
    pair AS (
      SELECT a.id AS id_a, b.id AS id_b
      FROM assign a JOIN assign b ON a.cid = b.cid AND a.id < b.id
    ),
    pdots AS (
      SELECT p.id_a, p.id_b, sum(a.x * b.x) AS dot
      FROM pair p
      JOIN vx a ON a.vec_id = p.id_a
      JOIN vx b ON b.vec_id = p.id_b AND b.i = a.i
      GROUP BY 1, 2
    )
    SELECT id_a, id_b, round(dot / (na.nrm * nb.nrm), 6) AS cos
    FROM pdots JOIN norms na ON na.vec_id = id_a JOIN norms nb ON nb.vec_id = id_b
    WHERE round(dot / (na.nrm * nb.nrm), 6) >= 0.4
    """,
)
def neardup_pairs(spark, sf_dir):
    """Embedding-cosine near-duplicate pairs (cos ≥ 0.4) via IVF buckets:
    pairs are generated ONLY within a nearest-centroid bucket (centroids =
    a deterministic vec_id stride slice, a broadcast dim), then
    cosine-verified — Σ|bucket|² work, never the all-pairs crossJoin.  The
    stride adapts as max(61, ⌊√n⌋) so centroid count grows ∝ √n and the
    assignment pass stays n^1.5, not n²/61.  The oracle replicates the
    centroid assignment, and brute force survives as the test-side recall
    baseline (test_scale_operators)."""
    import math

    e = read_table(spark, sf_dir, "embeddings")
    stride = max(61, int(math.isqrt(table_num_rows(sf_dir, "embeddings"))))
    centroids = e.filter(F.col("vec_id") % stride == 0)
    return similarity.ivf_neardup_pairs(e, centroids, threshold=0.4)


@q(
    "asof_forward_event",
    """
    WITH l AS (
      SELECT o_orderkey, o_custkey % 20 AS uid,
             CAST(o_orderdate AS TIMESTAMP) + INTERVAL 29 YEAR AS ots
      FROM orders
    ), j AS (
      SELECT l.o_orderkey, CAST(e.ts AS TIMESTAMP) AS ets, e.value,
             row_number() OVER (PARTITION BY l.o_orderkey
                                ORDER BY CAST(e.ts AS TIMESTAMP) ASC,
                                         e.event_id ASC) AS rn
      FROM l JOIN events e
        ON e.user_id = l.uid AND CAST(e.ts AS TIMESTAMP) >= l.ots
    )
    SELECT l.o_orderkey, CAST(j.ets AS VARCHAR) AS asof_ts,
           round(coalesce(j.value, -1), 2) AS asof_value
    FROM l LEFT JOIN (SELECT * FROM j WHERE rn = 1) j USING (o_orderkey)
    """,
)
def asof_forward_event(spark, sf_dir):
    """Forward as-of: for each order, the EARLIEST event at-or-after it
    (lookahead enrichment, e.g. "next reading after the request").  Same
    union+window shape as backward — one shuffle, O(1) running state."""
    o = read_table(spark, sf_dir, "orders")
    e = read_table(spark, sf_dir, "events")
    left = o.select(
        "o_orderkey",
        (F.col("o_custkey") % 20).alias("uid"),
        (F.col("o_orderdate").cast("timestamp") + F.expr("INTERVAL 29 YEAR")).alias("ots"),
    )
    right = e.select(
        F.col("user_id").alias("uid"), F.col("ts"), F.col("value"), F.col("event_id")
    )
    out = joins.as_of_join(
        left, right, keys=["uid"], left_ts="ots", right_ts="ts",
        right_vals=["ts", "value"], right_order="event_id", direction="forward",
    )
    return out.select(
        "o_orderkey",
        F.col("asof_ts").cast("string").alias("asof_ts"),
        F.round(F.coalesce(F.col("asof_value"), F.lit(-1.0)), 2).alias("asof_value"),
    )


@q(
    "asof_nearest_event",
    """
    WITH l AS (
      SELECT o_orderkey, o_custkey % 20 AS uid,
             CAST(o_orderdate AS TIMESTAMP) + INTERVAL 29 YEAR AS ots
      FROM orders
    ), jb AS (
      SELECT l.o_orderkey, CAST(e.ts AS TIMESTAMP) AS ets, e.value,
             row_number() OVER (PARTITION BY l.o_orderkey
                                ORDER BY CAST(e.ts AS TIMESTAMP) DESC,
                                         e.event_id DESC) AS rn
      FROM l JOIN events e
        ON e.user_id = l.uid AND CAST(e.ts AS TIMESTAMP) <= l.ots
    ), bb AS (SELECT * FROM jb WHERE rn = 1),
    jf AS (
      SELECT l.o_orderkey, CAST(e.ts AS TIMESTAMP) AS ets, e.value,
             row_number() OVER (PARTITION BY l.o_orderkey
                                ORDER BY CAST(e.ts AS TIMESTAMP) ASC,
                                         e.event_id ASC) AS rn
      FROM l JOIN events e
        ON e.user_id = l.uid AND CAST(e.ts AS TIMESTAMP) >= l.ots
    ), ff AS (SELECT * FROM jf WHERE rn = 1),
    pick AS (
      SELECT l.o_orderkey,
             (ff.ets IS NULL OR (bb.ets IS NOT NULL AND
               epoch_us(l.ots) - epoch_us(bb.ets)
                 <= epoch_us(ff.ets) - epoch_us(l.ots))) AS use_b,
             bb.ets AS bts, bb.value AS bval, ff.ets AS fts, ff.value AS fval
      FROM l LEFT JOIN bb USING (o_orderkey) LEFT JOIN ff USING (o_orderkey)
    )
    SELECT o_orderkey,
           CAST(CASE WHEN use_b THEN bts ELSE fts END AS VARCHAR) AS asof_ts,
           round(coalesce(CASE WHEN use_b THEN bval ELSE fval END, -1), 2)
             AS asof_value
    FROM pick
    """,
)
def asof_nearest_event(spark, sf_dir):
    """Nearest as-of: the time-closest event on either side of each order
    (ties → backward).  One shuffle on the key; the nearest pick re-sorts
    the same partitions for the forward carry, no second exchange."""
    o = read_table(spark, sf_dir, "orders")
    e = read_table(spark, sf_dir, "events")
    left = o.select(
        "o_orderkey",
        (F.col("o_custkey") % 20).alias("uid"),
        (F.col("o_orderdate").cast("timestamp") + F.expr("INTERVAL 29 YEAR")).alias("ots"),
    )
    right = e.select(
        F.col("user_id").alias("uid"), F.col("ts"), F.col("value"), F.col("event_id")
    )
    out = joins.as_of_join(
        left, right, keys=["uid"], left_ts="ots", right_ts="ts",
        right_vals=["ts", "value"], right_order="event_id", direction="nearest",
    )
    return out.select(
        "o_orderkey",
        F.col("asof_ts").cast("string").alias("asof_ts"),
        F.round(F.coalesce(F.col("asof_value"), F.lit(-1.0)), 2).alias("asof_value"),
    )


@q(
    "join_bloom_prefilter",
    """
    WITH params AS (SELECT unnest(generate_series(0, 3)) AS k),
    keys AS (SELECT o_orderkey FROM orders WHERE o_orderpriority = '1-URGENT'),
    bits AS (
      SELECT DISTINCT
             ('0x' || substr(md5('joinbloom-v1|' || CAST(k AS VARCHAR) || '|'
                                 || CAST(o_orderkey AS VARCHAR)), 1, 8))::BIGINT
             % 65536 AS bit
      FROM keys, params
    ),
    lik AS (SELECT DISTINCT l_orderkey FROM lineitem),
    probe_rows AS (
      SELECT CAST(l_orderkey AS VARCHAR) AS value,
             ('0x' || substr(md5('joinbloom-v1|' || CAST(k AS VARCHAR) || '|'
                                 || CAST(l_orderkey AS VARCHAR)), 1, 8))::BIGINT
             % 65536 AS bit
      FROM lik, params
    ),
    probed AS (
      SELECT value, count(b.bit) = 4 AS maybe
      FROM probe_rows p LEFT JOIN bits b ON p.bit = b.bit
      GROUP BY value
    ),
    agg AS (
      SELECT count(*) AS n_rows_joined,
             CAST(round(sum(CAST(l_extendedprice * (1 - l_discount)
                                 AS DECIMAL(18,4))), 2) AS DOUBLE) AS revenue
      FROM lineitem l JOIN keys ON l.l_orderkey = keys.o_orderkey
    )
    SELECT (SELECT count(*) FROM keys) AS n_keys_exact,
           (SELECT count(*) FROM probed WHERE maybe) AS n_keys_bloom_pass,
           agg.n_rows_joined, agg.revenue
    FROM agg
    """,
)
def join_bloom_prefilter(spark, sf_dir):
    """Bloom semi-join reduction (runtime-filter pattern): the urgent-order
    key set compresses to a ≤65536-bit Bloom filter that BROADCASTS and
    discards non-qualifying lineitem keys before any shuffle join — the
    100 TB play when the build side is too big to broadcast exactly but
    its Bloom digest is not.  No false negatives, so the post-filter join
    equals the plain join (the oracle computes it directly); the result
    also reports exact-vs-bloom key counts, pinning the false-positive
    rate of the engine-portable md5 bit scheme."""
    from .operators import sketches

    o = read_table(spark, sf_dir, "orders")
    li = read_table(spark, sf_dir, "lineitem")
    keys = o.filter(F.col("o_orderpriority") == "1-URGENT").select("o_orderkey")
    keys = session.materialize(keys)  # feeds bloom + exact join + count
    bloom = sketches.bloom_build(
        keys, "o_orderkey", num_hashes=4, num_bits=65536, seed="joinbloom-v1"
    )
    lik = li.select("l_orderkey").distinct()
    probed = sketches.bloom_probe(
        bloom, lik, "l_orderkey", num_hashes=4, num_bits=65536, seed="joinbloom-v1"
    )
    pass_keys = probed.filter(F.col("maybe_present")).select(
        F.col("value").cast("bigint").alias("l_orderkey")
    )
    li_f = li.join(pass_keys, "l_orderkey")
    agg = (
        li_f.join(keys, li_f.l_orderkey == keys.o_orderkey)
        .agg(
            F.count(F.lit(1)).alias("n_rows_joined"),
            F.round(
                F.sum(
                    (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
                        "decimal(18,4)"
                    )
                ),
                2,
            )
            .cast("double")
            .alias("revenue"),
        )
    )
    n_exact = keys.agg(F.count(F.lit(1)).alias("n_keys_exact"))
    n_pass = pass_keys.agg(F.count(F.lit(1)).alias("n_keys_bloom_pass"))
    return (
        n_exact.crossJoin(n_pass)
        .crossJoin(agg)
        .select("n_keys_exact", "n_keys_bloom_pass", "n_rows_joined", "revenue")
    )


@q(
    "features_trailing_windows",
    """
    WITH l AS (
      SELECT o_orderkey, o_custkey % 20 AS uid,
             epoch_us(CAST(o_orderdate AS TIMESTAMP) + INTERVAL 29 YEAR) AS us
      FROM orders
    ),
    u AS (
      SELECT uid, us, 1 AS is_order, o_orderkey, CAST(NULL AS DOUBLE) AS value
      FROM l
      UNION ALL
      SELECT user_id AS uid, epoch_us(CAST(ts AS TIMESTAMP)) AS us,
             0 AS is_order, CAST(NULL AS BIGINT) AS o_orderkey, value
      FROM events
    ),
    w AS (
      SELECT *,
             sum(CASE WHEN is_order = 0 THEN 1 ELSE 0 END) OVER
               (PARTITION BY uid ORDER BY us
                RANGE BETWEEN 604800000000 PRECEDING AND CURRENT ROW)
               AS n7,
             round(sum(CASE WHEN is_order = 0 THEN value ELSE 0 END) OVER
               (PARTITION BY uid ORDER BY us
                RANGE BETWEEN 604800000000 PRECEDING AND CURRENT ROW), 2)
               AS v7,
             sum(CASE WHEN is_order = 0 THEN 1 ELSE 0 END) OVER
               (PARTITION BY uid ORDER BY us
                RANGE BETWEEN 2592000000000 PRECEDING AND CURRENT ROW)
               AS n30
      FROM u
    )
    SELECT o_orderkey, uid, CAST(n7 AS BIGINT) AS n_events_7d,
           v7 AS sum_value_7d, CAST(n30 AS BIGINT) AS n_events_30d
    FROM w WHERE is_order = 1
    """,
)
def features_trailing_windows(spark, sf_dir):
    """Point-in-time feature backfill (the feature-store pattern that
    prevents training-serving skew): for every order, the user's trailing
    7-day and 30-day event counts and 7-day value sum AS OF the order
    timestamp — no future leakage.  Union both streams, one RANGE-frame
    window pass per horizon over a SINGLE (user) shuffle; never an
    |orders|×|events| range join."""
    from pyspark.sql.window import Window

    o = read_table(spark, sf_dir, "orders")
    e = read_table(spark, sf_dir, "events")
    l = o.select(
        "o_orderkey",
        (F.col("o_custkey") % 20).alias("uid"),
        F.unix_micros(
            F.col("o_orderdate").cast("timestamp") + F.expr("INTERVAL 29 YEAR")
        ).alias("us"),
        F.lit(1).alias("is_order"),
        F.lit(None).cast("double").alias("value"),
    )
    r = e.select(
        F.lit(None).cast("bigint").alias("o_orderkey"),
        F.col("user_id").alias("uid"),
        F.unix_micros(F.col("ts").cast("timestamp")).alias("us"),
        F.lit(0).alias("is_order"),
        "value",
    )
    u = l.unionByName(r)
    day_us = 86_400_000_000
    w7 = (
        Window.partitionBy("uid").orderBy("us")
        .rangeBetween(-7 * day_us, 0)
    )
    w30 = (
        Window.partitionBy("uid").orderBy("us")
        .rangeBetween(-30 * day_us, 0)
    )
    ev = F.when(F.col("is_order") == 0, F.lit(1)).otherwise(F.lit(0))
    evv = F.when(F.col("is_order") == 0, F.col("value")).otherwise(F.lit(0.0))
    out = u.select(
        "*",
        F.sum(ev).over(w7).alias("n7"),
        F.round(F.sum(evv).over(w7), 2).alias("v7"),
        F.sum(ev).over(w30).alias("n30"),
    ).filter(F.col("is_order") == 1)
    return out.select(
        "o_orderkey", "uid",
        F.col("n7").alias("n_events_7d"),
        F.col("v7").alias("sum_value_7d"),
        F.col("n30").alias("n_events_30d"),
    )


@q(
    "cdc_apply_customers",
    """
    WITH ch AS (
      SELECT CASE WHEN b % 7 = 0 THEN o_custkey + 1000000
                  ELSE o_custkey END AS c_custkey,
             o_orderkey AS seq,
             CASE WHEN b < 1000 THEN 'D'
                  WHEN b < 4000 THEN 'I'
                  ELSE 'U' END AS op,
             'cdc-' || CAST(o_orderkey AS VARCHAR) AS c_name,
             round(o_totalprice, 2) AS c_acctbal
      FROM (SELECT o_orderkey, o_custkey, o_totalprice,
                   ('0x' || substr(md5('cdc-v1|' || CAST(o_orderkey AS VARCHAR)),
                                   1, 8))::BIGINT % 10000 AS b
            FROM orders)
    ),
    last AS (
      SELECT * FROM (
        SELECT ch.*, row_number() OVER (PARTITION BY c_custkey
                                        ORDER BY seq DESC, op ASC) AS rn
        FROM ch
      ) WHERE rn = 1
    )
    SELECT coalesce(l.c_custkey, c.c_custkey) AS c_custkey,
           CASE WHEN l.c_custkey IS NOT NULL THEN l.c_name
                ELSE c.c_name END AS c_name,
           CASE WHEN l.c_custkey IS NOT NULL THEN l.c_acctbal
                ELSE c.c_acctbal END AS c_acctbal
    FROM customer c FULL OUTER JOIN last l ON l.c_custkey = c.c_custkey
    WHERE l.op IS NULL OR l.op != 'D'
    """,
)
def cdc_apply_customers(spark, sf_dir):
    """CDC application (operators/cdc.py): a deterministic I/U/D change
    stream synthesized from orders (md5-bucketed op mix, ~14% of changes
    re-keyed past the base id range so MERGE's not-matched INSERT arm
    demonstrably fires) collapses last-writer-wins per key and applies
    to customer with ONE full outer join — no per-row driver logic.
    Oracle replays the window + join arm-for-arm."""
    from .operators import cdc

    c = read_table(spark, sf_dir, "customer")
    o = read_table(spark, sf_dir, "orders")
    b = (
        F.conv(F.substring(F.md5(F.concat_ws("|", F.lit("cdc-v1"),
                                             F.col("o_orderkey").cast("string"))), 1, 8), 16, 10)
        .cast("bigint") % 10000
    )
    changes = o.select(
        F.when(b % 7 == 0, F.col("o_custkey") + 1000000)
        .otherwise(F.col("o_custkey"))
        .alias("c_custkey"),
        F.col("o_orderkey").alias("seq"),
        F.when(b < 1000, F.lit("D"))
        .when(b < 4000, F.lit("I"))
        .otherwise(F.lit("U"))
        .alias("op"),
        F.concat(F.lit("cdc-"), F.col("o_orderkey").cast("string")).alias("c_name"),
        F.round("o_totalprice", 2).alias("c_acctbal"),
    )
    return cdc.cdc_apply(
        c, changes, ["c_custkey"], ["c_name", "c_acctbal"], "seq", "op"
    )


@q(
    "cdc_incremental_agg",
    """
    WITH ch AS (
      SELECT CASE WHEN b % 7 = 0 THEN o_custkey + 1000000
                  ELSE o_custkey END AS c_custkey,
             o_orderkey AS seq,
             CASE WHEN b < 1000 THEN 'D'
                  WHEN b < 4000 THEN 'I'
                  ELSE 'U' END AS op,
             o_custkey % 25 AS c_nationkey,
             CAST(round(o_totalprice, 2) AS DECIMAL(18,2)) AS c_acctbal
      FROM (SELECT o_orderkey, o_custkey, o_totalprice,
                   ('0x' || substr(md5('cdc-v1|' || CAST(o_orderkey AS VARCHAR)),
                                   1, 8))::BIGINT % 10000 AS b
            FROM orders)
    ),
    last AS (
      SELECT * FROM (
        SELECT ch.*, row_number() OVER (PARTITION BY c_custkey
                                        ORDER BY seq DESC, op ASC) AS rn
        FROM ch
      ) WHERE rn = 1
    ),
    final AS (
      SELECT coalesce(l.c_custkey, c.c_custkey) AS k,
             CASE WHEN l.c_custkey IS NOT NULL THEN l.c_nationkey
                  ELSE c.c_nationkey END AS g,
             CASE WHEN l.c_custkey IS NOT NULL THEN l.c_acctbal
                  ELSE CAST(round(c.c_acctbal, 2) AS DECIMAL(18,2)) END AS m
      FROM customer c FULL OUTER JOIN last l ON l.c_custkey = c.c_custkey
      WHERE l.op IS NULL OR l.op != 'D'
    )
    SELECT g AS c_nationkey, CAST(count(*) AS BIGINT) AS n_rows,
           round(CAST(sum(m) AS DOUBLE), 2) AS sum_acctbal
    FROM final GROUP BY g
    """,
)
def cdc_incremental_agg_q(spark, sf_dir):
    """Incremental materialized-view maintenance: per-nation
    (count, Σ acctbal) is maintained from the stored aggregate + a delta
    over ONLY the changed keys (retract old / assert new contributions,
    DECIMAL-exact), never re-aggregating the post-apply table.  The
    oracle replays the change stream arm-for-arm and RE-AGGREGATES the
    final state directly — so a value match proves maintained ≡ full
    recompute, the defining IVM property, cross-engine.  Updates that
    move a row across groups exercise the retract-here/assert-there
    path (the synthesized nationkey differs from the base row's).
    See operators/cdc.py:incremental_agg_maintain."""
    from .operators import cdc

    c = read_table(spark, sf_dir, "customer")
    o = read_table(spark, sf_dir, "orders")
    b = (
        F.conv(F.substring(F.md5(F.concat_ws("|", F.lit("cdc-v1"),
                                             F.col("o_orderkey").cast("string"))), 1, 8), 16, 10)
        .cast("bigint") % 10000
    )
    changes = o.select(
        F.when(b % 7 == 0, F.col("o_custkey") + 1000000)
        .otherwise(F.col("o_custkey"))
        .alias("c_custkey"),
        F.col("o_orderkey").alias("seq"),
        F.when(b < 1000, F.lit("D"))
        .when(b < 4000, F.lit("I"))
        .otherwise(F.lit("U"))
        .alias("op"),
        (F.col("o_custkey") % 25).alias("c_nationkey"),
        F.round("o_totalprice", 2).cast("decimal(18,2)").alias("c_acctbal"),
    )
    base = c.select(
        "c_custkey",
        "c_nationkey",
        F.round("c_acctbal", 2).cast("decimal(18,2)").alias("c_acctbal"),
    )
    out = cdc.incremental_agg_maintain(
        base, changes, ["c_custkey"], "c_nationkey", "c_acctbal"
    )
    return out.select(
        "c_nationkey",
        "n_rows",
        F.round(F.col("measure_sum").cast("double"), 2).alias("sum_acctbal"),
    )


@q(
    "cdc_time_travel",
    """
    WITH ch AS (
      SELECT CASE WHEN b % 7 = 0 THEN o_custkey + 1000000
                  ELSE o_custkey END AS c_custkey,
             o_orderkey AS seq,
             CASE WHEN b < 1000 THEN 'D'
                  WHEN b < 4000 THEN 'I'
                  ELSE 'U' END AS op,
             'cdc-' || CAST(o_orderkey AS VARCHAR) AS c_name,
             round(o_totalprice, 2) AS c_acctbal
      FROM (SELECT o_orderkey, o_custkey, o_totalprice,
                   ('0x' || substr(md5('cdc-v1|' || CAST(o_orderkey AS VARCHAR)),
                                   1, 8))::BIGINT % 10000 AS b
            FROM orders)
    ),
    wm AS (SELECT max(o_orderkey) // 2 AS as_of FROM orders),
    visible AS (SELECT ch.* FROM ch, wm WHERE ch.seq <= wm.as_of),
    last AS (
      SELECT * FROM (
        SELECT visible.*, row_number() OVER (PARTITION BY c_custkey
                                             ORDER BY seq DESC, op ASC) AS rn
        FROM visible
      ) WHERE rn = 1
    )
    SELECT coalesce(l.c_custkey, c.c_custkey) AS c_custkey,
           CASE WHEN l.c_custkey IS NOT NULL THEN l.c_name
                ELSE c.c_name END AS c_name,
           CASE WHEN l.c_custkey IS NOT NULL THEN l.c_acctbal
                ELSE c.c_acctbal END AS c_acctbal
    FROM customer c FULL OUTER JOIN last l ON l.c_custkey = c.c_custkey
    WHERE l.op IS NULL OR l.op != 'D'
    """,
)
def cdc_time_travel_q(spark, sf_dir):
    """Time-travel read (operators/cdc.py:time_travel): reconstruct the
    customer table AS OF the mid-stream watermark max(seq)//2 from the
    base snapshot + the same synthesized change log as
    cdc_apply_customers.  The watermark is a one-row computed relation
    that broadcasts onto the log filter — no driver scalar round-trip —
    and everything after it (updates AND deletes) is invisible, which
    the oracle proves by replaying the filtered log arm-for-arm."""
    from .operators import cdc

    c = read_table(spark, sf_dir, "customer")
    o = read_table(spark, sf_dir, "orders")
    b = (
        F.conv(F.substring(F.md5(F.concat_ws("|", F.lit("cdc-v1"),
                                             F.col("o_orderkey").cast("string"))), 1, 8), 16, 10)
        .cast("bigint") % 10000
    )
    changes = o.select(
        F.when(b % 7 == 0, F.col("o_custkey") + 1000000)
        .otherwise(F.col("o_custkey"))
        .alias("c_custkey"),
        F.col("o_orderkey").alias("seq"),
        F.when(b < 1000, F.lit("D"))
        .when(b < 4000, F.lit("I"))
        .otherwise(F.lit("U"))
        .alias("op"),
        F.concat(F.lit("cdc-"), F.col("o_orderkey").cast("string")).alias("c_name"),
        F.round("o_totalprice", 2).alias("c_acctbal"),
    )
    wm = o.agg(
        F.floor(F.max("o_orderkey") / 2).cast("bigint").alias("as_of")
    )
    return cdc.time_travel(
        c, changes, ["c_custkey"], ["c_name", "c_acctbal"], wm
    )


@q(
    "cdc_log_expiry",
    """
    WITH ch AS (
      SELECT CASE WHEN b % 7 = 0 THEN o_custkey + 1000000
                  ELSE o_custkey END AS c_custkey,
             o_orderkey AS seq,
             CASE WHEN b < 1000 THEN 'D'
                  WHEN b < 4000 THEN 'I'
                  ELSE 'U' END AS op
      FROM (SELECT o_orderkey, o_custkey,
                   ('0x' || substr(md5('cdc-v1|' || CAST(o_orderkey AS VARCHAR)),
                                   1, 8))::BIGINT % 10000 AS b
            FROM orders)
    ),
    wm AS (SELECT max(o_orderkey) // 2 AS retain_from FROM orders),
    below AS (
      SELECT ch.*, row_number() OVER (PARTITION BY c_custkey
                                      ORDER BY seq DESC, op ASC) AS rn
      FROM ch, wm WHERE ch.seq <= wm.retain_from
    )
    SELECT c_custkey, seq, op,
           CASE WHEN rn = 1 THEN 'retain_boundary' ELSE 'expire' END AS status
    FROM below
    UNION ALL
    SELECT ch.c_custkey, ch.seq, ch.op, 'retain_window' AS status
    FROM ch, wm WHERE ch.seq > wm.retain_from
    """,
)
def cdc_log_expiry_q(spark, sf_dir):
    """CDC-log VACUUM planning (operators/cdc.py:log_expiry): under the
    mid-stream retention watermark max(seq)//2, classify every entry of
    the synthesized cdc-v1 change log as retain_window (still inside
    the time-travel window), retain_boundary (the key's latest entry at
    or below the watermark — it alone defines the key's state there,
    boundary DELETEs included, or the key would resurrect from the base
    snapshot), or expire (shadowed at every reachable as_of).  The
    expire-snapshots decision every lakehouse table format makes, as
    one key-partitioned window over the below-watermark slice; the
    watermark is a one-row broadcast relation.  Completes the CDC
    family: apply, IVM, time-travel, merge-conflicts, expiry."""
    from .operators import cdc

    o = read_table(spark, sf_dir, "orders")
    b = (
        F.conv(F.substring(F.md5(F.concat_ws("|", F.lit("cdc-v1"),
                                             F.col("o_orderkey").cast("string"))), 1, 8), 16, 10)
        .cast("bigint") % 10000
    )
    changes = o.select(
        F.when(b % 7 == 0, F.col("o_custkey") + 1000000)
        .otherwise(F.col("o_custkey"))
        .alias("c_custkey"),
        F.col("o_orderkey").alias("seq"),
        F.when(b < 1000, F.lit("D"))
        .when(b < 4000, F.lit("I"))
        .otherwise(F.lit("U"))
        .alias("op"),
    )
    wm = o.agg(
        F.floor(F.max("o_orderkey") / 2).cast("bigint").alias("retain_from")
    )
    return cdc.log_expiry(changes, ["c_custkey"], wm)


@q(
    "cdc_merge_conflicts",
    """
    WITH cha AS (
      SELECT o_custkey AS c_custkey, o_orderkey AS seq,
             CASE WHEN ba < 2000 THEN 'D' ELSE 'U' END AS op,
             round(o_totalprice, 2) AS c_acctbal
      FROM (SELECT *, ('0x' || substr(md5('wa-v1|' || CAST(o_orderkey AS VARCHAR)),
                                      1, 8))::BIGINT % 10000 AS ba
            FROM orders)
      WHERE ba % 3 != 0
    ),
    chb AS (
      SELECT o_custkey AS c_custkey, o_orderkey AS seq,
             CASE WHEN bb < 2000 THEN 'D' ELSE 'U' END AS op,
             round(o_totalprice + 1, 2) AS c_acctbal
      FROM (SELECT *, ('0x' || substr(md5('wb-v1|' || CAST(o_orderkey AS VARCHAR)),
                                      1, 8))::BIGINT % 10000 AS bb
            FROM orders)
      WHERE bb % 3 != 1
    ),
    la AS (
      SELECT * FROM (SELECT cha.*, row_number() OVER (PARTITION BY c_custkey
                       ORDER BY seq DESC, op ASC) AS rn FROM cha) WHERE rn = 1
    ),
    lb AS (
      SELECT * FROM (SELECT chb.*, row_number() OVER (PARTITION BY c_custkey
                       ORDER BY seq DESC, op ASC) AS rn FROM chb) WHERE rn = 1
    )
    SELECT la.c_custkey,
           la.op AS a_op, la.seq AS a_seq, la.c_acctbal AS a_c_acctbal,
           lb.op AS b_op, lb.seq AS b_seq, lb.c_acctbal AS b_c_acctbal,
           CASE WHEN lb.seq > la.seq THEN 'b' ELSE 'a' END AS winner
    FROM la JOIN lb USING (c_custkey)
    WHERE la.op != lb.op
       OR la.c_acctbal IS DISTINCT FROM lb.c_acctbal
    """,
)
def cdc_merge_conflicts_q(spark, sf_dir):
    """Two-writer conflict detection (operators/cdc.py:merge_conflicts):
    two md5-seeded change streams over the customer keyspace (overlapping
    but not identical key sets, deliberately divergent payloads) collapse
    last-writer-wins per stream, then one |touched-keys| join reports
    every key whose final writes disagree, with the default
    higher-seq-wins resolution attached.  The oracle replays both windows
    and the null-safe disagreement test arm-for-arm."""
    from .operators import cdc

    o = read_table(spark, sf_dir, "orders")

    def stream(seed: str, drop_mod: int, shift: int):
        b = (
            F.conv(F.substring(F.md5(F.concat_ws("|", F.lit(seed),
                                                 F.col("o_orderkey").cast("string"))), 1, 8), 16, 10)
            .cast("bigint") % 10000
        )
        return o.select(
            F.col("o_custkey").alias("c_custkey"),
            F.col("o_orderkey").alias("seq"),
            F.when(b < 2000, F.lit("D")).otherwise(F.lit("U")).alias("op"),
            F.round(F.col("o_totalprice") + shift, 2).alias("c_acctbal"),
            b.alias("_b"),
        ).filter(F.col("_b") % 3 != drop_mod).drop("_b")

    a = stream("wa-v1", 0, 0)
    bstream = stream("wb-v1", 1, 1)
    return cdc.merge_conflicts(
        a, bstream, ["c_custkey"], ["c_acctbal"]
    )


@q(
    "profiling_join_fanout",
    """
    WITH lc AS (SELECT o_orderkey AS k, CAST(count(*) AS BIGINT) AS nl
                FROM orders GROUP BY 1),
    rc AS (SELECT l_orderkey AS k, CAST(count(*) AS BIGINT) AS nr
           FROM lineitem GROUP BY 1),
    m AS (SELECT lc.k AS lk, rc.k AS rk, nl, nr
          FROM lc FULL OUTER JOIN rc ON lc.k = rc.k)
    SELECT CAST(sum(CASE WHEN lk IS NOT NULL AND rk IS NOT NULL
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_keys_both,
           CAST(sum(CASE WHEN rk IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_keys_left_only,
           CAST(sum(CASE WHEN lk IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_keys_right_only,
           CAST(sum(CASE WHEN lk IS NOT NULL AND rk IS NOT NULL
                         THEN nl * nr ELSE 0 END) AS BIGINT) AS join_rows,
           CAST(max(CASE WHEN lk IS NOT NULL AND rk IS NOT NULL
                         THEN nl END) AS BIGINT) AS max_fanout_left,
           CAST(max(CASE WHEN lk IS NOT NULL AND rk IS NOT NULL
                         THEN nr END) AS BIGINT) AS max_fanout_right
    FROM m
    """,
)
def profiling_join_fanout_q(spark, sf_dir):
    """Pre-join cardinality guardrail
    (operators/joins.py:join_fanout_profile): the exact orders⋈lineitem
    output size and per-side fanout profile from two per-key counts and
    a key-level merge — |distinct keys| cost, the join never runs.  The
    pre-flight that catches many-to-many explosions and silent
    referential breakage before a 100 TB shuffle is committed."""
    from .operators import joins

    o = read_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("k")
    )
    li = read_table(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("k")
    )
    return joins.join_fanout_profile(o, li, ["k"])


@q(
    "join_scd2_point_in_time",
    """
    WITH v0 AS (
      SELECT user_id, value, epoch_us(CAST(ts AS TIMESTAMP)) AS us,
             lag(value) OVER (PARTITION BY user_id
                              ORDER BY CAST(ts AS TIMESTAMP), event_id) AS prev
      FROM events WHERE event_type = 'view'
    ),
    dim AS (
      SELECT user_id, round(value, 2) AS dim_value, us AS eff_from,
             lead(us) OVER (PARTITION BY user_id ORDER BY us) AS eff_to,
             row_number() OVER (PARTITION BY user_id ORDER BY us) AS version_no
      FROM v0 WHERE prev IS NULL OR value IS DISTINCT FROM prev
    ),
    probes AS (
      SELECT event_id, user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS pus
      FROM events WHERE event_type = 'purchase'
    )
    SELECT p.event_id, p.user_id,
           CAST(d.version_no AS BIGINT) AS version_no,
           d.dim_value
    FROM probes p JOIN dim d
      ON p.user_id = d.user_id AND d.eff_from <= p.pus
     AND (d.eff_to IS NULL OR p.pus < d.eff_to)
    """,
)
def join_scd2_point_in_time_q(spark, sf_dir):
    """Point-in-time join against an SCD2 dimension — the feature-store
    correctness primitive: each label event (purchase) joins the dimension
    VERSION that was valid at its own timestamp ([eff_from, eff_to)
    half-open tiling), never the current row — joining current-state
    attributes onto historical labels is the classic label-leakage bug.
    The dimension is built inline with the events_scd2_versions recipe
    (consecutive-unchanged collapse, one (user) partitioning).  Scale
    shape: equi-join on the entity key carries the range predicate as a
    residual filter, so the shuffle is keyed by user — fanout bounded by
    versions-per-user, and the version windows tile, so exactly one
    version survives per matched probe (purchases before the first view
    version drop: inner semantics).  At 100 TB both sides arrive
    user-partitioned and the join co-locates."""
    from pyspark.sql.window import Window

    e = read_table(spark, sf_dir, "events")
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").cast("timestamp"), "event_id"
    )
    v0 = (
        e.filter(F.col("event_type") == "view")
        .select(
            "user_id", "value", us.alias("us"),
            F.lag("value").over(w).alias("prev"),
        )
    )
    w2 = Window.partitionBy("user_id").orderBy("us")
    dim = (
        v0.filter(F.col("prev").isNull() | ~F.col("value").eqNullSafe(F.col("prev")))
        .select(
            "user_id",
            F.round("value", 2).alias("dim_value"),
            F.col("us").alias("eff_from"),
            F.lead("us").over(w2).alias("eff_to"),
            F.row_number().over(w2).cast("bigint").alias("version_no"),
        )
    )
    probes = e.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", us.alias("pus")
    )
    joined = probes.join(
        dim,
        (probes["user_id"] == dim["user_id"])
        & (dim["eff_from"] <= probes["pus"])
        & (dim["eff_to"].isNull() | (probes["pus"] < dim["eff_to"])),
    )
    return joined.select(
        probes["event_id"], probes["user_id"], "version_no", "dim_value"
    )
