"""Composite queries: the full near-dup dedup pipeline as a user would run
it (minhash → LSH buckets → exact Jaccard verify → canonical id), and
TPC-H q6 (the classic pushdown showcase)."""

from __future__ import annotations

from pyspark.sql import functions as F

from . import session
from .operators import curation, dedup
from .queries_core import q, read_table
from .queries_scale import _NORM, _SHINGLES3


@q(
    "dedup_pipeline_canonical",
    f"""
    WITH {_SHINGLES3},
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
    ),
    dsh AS (SELECT DISTINCT doc_id, sh FROM sh),
    sizes AS (SELECT doc_id, count(*) AS n FROM dsh GROUP BY 1),
    common AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS c
      FROM dsh a JOIN dsh b ON a.sh = b.sh AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ),
    verified AS (
      SELECT common.id_a, common.id_b
      FROM common
      JOIN cand ON cand.id_a = common.id_a AND cand.id_b = common.id_b
      JOIN sizes sa ON sa.doc_id = common.id_a
      JOIN sizes sb ON sb.doc_id = common.id_b
      WHERE round(CAST(c AS DOUBLE) / (sa.n + sb.n - c), 6) >= 0.3
    ),
    partners AS (
      SELECT id_a AS doc_id, id_b AS partner FROM verified
      UNION ALL SELECT id_b, id_a FROM verified
    )
    SELECT d.doc_id,
           least(d.doc_id, coalesce(min(p.partner), d.doc_id)) AS canonical_id
    FROM documents d LEFT JOIN partners p USING (doc_id)
    GROUP BY d.doc_id
    """,
)
def dedup_pipeline(spark, sf_dir):
    """Full near-dup pipeline: LSH candidates bound the quadratic verify;
    canonical id = min(doc, verified partners).  (One-step canonicalization;
    transitive closure would iterate this to a fixpoint.)"""
    d = read_table(spark, sf_dir, "documents")
    sig = dedup.minhash_signature(d, "doc_id", "text", num_hashes=4, k=3)
    cand = dedup.lsh_candidate_pairs(dedup.lsh_bands(sig, rows_per_band=2))
    verified = dedup.ngram_jaccard_pairs(
        d, "doc_id", "text", k=3, threshold=0.3, candidates=cand
    ).select("id_a", "id_b")
    partners = verified.unionByName(
        verified.select(F.col("id_b").alias("id_a"), F.col("id_a").alias("id_b"))
    ).select(F.col("id_a").alias("doc_id"), F.col("id_b").alias("partner"))
    return (
        d.select("doc_id")
        .join(partners, "doc_id", "left")
        .groupBy("doc_id")
        .agg(
            F.least(
                F.col("doc_id"), F.coalesce(F.min("partner"), F.col("doc_id"))
            ).alias("canonical_id")
        )
    )


@q(
    "dedup_connected_components",
    f"""
    WITH {_SHINGLES3},
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
    ),
    dsh AS (SELECT DISTINCT doc_id, sh FROM sh),
    sizes AS (SELECT doc_id, count(*) AS n FROM dsh GROUP BY 1),
    common AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS c
      FROM dsh a JOIN dsh b ON a.sh = b.sh AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ),
    verified AS (
      SELECT common.id_a, common.id_b
      FROM common
      JOIN cand ON cand.id_a = common.id_a AND cand.id_b = common.id_b
      JOIN sizes sa ON sa.doc_id = common.id_a
      JOIN sizes sb ON sb.doc_id = common.id_b
      WHERE round(CAST(c AS DOUBLE) / (sa.n + sb.n - c), 6) >= 0.3
    ),
    sym AS (
      SELECT id_a AS src, id_b AS dst FROM verified
      UNION ALL SELECT id_b, id_a FROM verified
    ),
    reach AS (
      WITH RECURSIVE r(a, b) AS (
        SELECT doc_id, doc_id FROM documents
        UNION
        SELECT r.a, s.dst FROM r JOIN sym s ON r.b = s.src
      )
      SELECT * FROM r
    )
    SELECT a AS id, min(b) AS canonical_id FROM reach GROUP BY a
    """,
)
def dedup_cc(spark, sf_dir):
    """Transitive near-dup canonicalization: iterative min-label propagation
    on Spark vs a recursive-CTE reachability closure in the oracle."""
    d = read_table(spark, sf_dir, "documents")
    sig = dedup.minhash_signature(d, "doc_id", "text", num_hashes=4, k=3)
    cand = dedup.lsh_candidate_pairs(dedup.lsh_bands(sig, rows_per_band=2))
    verified = dedup.ngram_jaccard_pairs(
        d, "doc_id", "text", k=3, threshold=0.3, candidates=cand
    ).select("id_a", "id_b")
    stats: dict = {}
    out = dedup.connected_components(d.select("doc_id"), verified, stats=stats)
    import logging

    logging.getLogger(__name__).info(
        "connected_components convergence: rounds=%d label_changes=%s converged=%s",
        len(stats.get("label_changes", [])),
        stats.get("label_changes"),
        stats.get("converged"),
    )
    return out


@q(
    "dedup_simhash_pairs",
    f"""
    WITH toks AS (
      SELECT doc_id, t.tok FROM (
        SELECT doc_id, unnest(string_split({{norm}}, ' ')) AS tok FROM documents
      ) t WHERE t.tok != ''
    ),
    hashed AS (
      SELECT doc_id,
             ('0x' || substr(md5(tok), 1, 15))::BIGINT % 1152921504606846976 AS h
      FROM toks
    ),
    bits AS (
      SELECT doc_id, h, b.bit FROM hashed, (SELECT unnest(generate_series(0, 59)) AS bit) b
    ),
    votes AS (
      SELECT doc_id, bit, sum(CASE WHEN (h >> bit) & 1 = 1 THEN 1 ELSE -1 END) AS v
      FROM bits GROUP BY 1, 2
    ),
    sh AS (
      SELECT doc_id AS id,
             CAST(sum(CASE WHEN v > 0 THEN (1::BIGINT << bit) ELSE 0 END) AS BIGINT) AS simhash
      FROM votes GROUP BY 1
    )
    SELECT a.id AS id_a, b.id AS id_b,
           bit_count(xor(a.simhash, b.simhash)) AS hamming
    FROM sh a JOIN sh b ON a.id < b.id
    WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
    """.replace("{norm}", "lower(regexp_replace(trim(text), '\\s+', ' ', 'g'))"),
)
def simhash_pairs(spark, sf_dir):
    """SimHash near-dup pairs: hamming(fingerprints) ≤ 3 over 60-bit
    fingerprints, paired via ``max_hamming + 1`` bands (pigeonhole: some
    band matches exactly) — identical result to brute force, but the join
    only ever meets inside a (band, band-value) bucket, never all-pairs.
    The 60/4-bit geometry keeps spurious bucket-mates at n²/2^15 per band
    (the old 16-bit fingerprint forced 5-bit bands — n²/32 — which the sf1
    probe exposed as effectively quadratic).  The oracle keeps brute-force
    pairing as ground truth."""
    d = read_table(spark, sf_dir, "documents")
    sh = dedup.simhash(d, "doc_id", "text", bits=60)
    return dedup.simhash_band_pairs(sh, bits=60, max_hamming=3)


@q(
    "tpch_q12_priority_shipping",
    """
    SELECT l_linestatus,
           count(*) FILTER (WHERE o_orderpriority IN ('1-URGENT', '2-HIGH')) AS high_line_count,
           count(*) FILTER (WHERE o_orderpriority NOT IN ('1-URGENT', '2-HIGH')) AS low_line_count
    FROM orders JOIN lineitem ON l_orderkey = o_orderkey
    WHERE CAST(l_shipdate AS DATE) >= DATE '1996-01-01'
    GROUP BY l_linestatus
    """,
)
def q12(spark, sf_dir):
    o = read_table(spark, sf_dir, "orders")
    li = read_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate").cast("date") >= F.lit("1996-01-01").cast("date")
    )
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        o.join(li, o.o_orderkey == li.l_orderkey)
        .groupBy("l_linestatus")
        .agg(
            F.count(F.when(high, 1)).alias("high_line_count"),
            F.count(F.when(~high, 1)).alias("low_line_count"),
        )
    )


@q(
    "tpch_q14_promo_share",
    """
    SELECT round(100.0 * sum(CASE WHEN p_type = 'PROMO'
                                  THEN l_extendedprice * (1 - l_discount) ELSE 0 END)
                 / sum(l_extendedprice * (1 - l_discount)), 4) AS promo_share
    FROM lineitem JOIN part ON p_partkey = l_partkey
    """,
)
def q14(spark, sf_dir):
    li = read_table(spark, sf_dir, "lineitem")
    p = read_table(spark, sf_dir, "part")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .agg(
            F.round(
                100.0 * F.sum(F.when(F.col("p_type") == "PROMO", rev).otherwise(0.0)) / F.sum(rev),
                4,
            ).alias("promo_share")
        )
    )


@q(
    "events_window_dedup",
    """
    SELECT user_id, event_type,
           CAST(date_trunc('hour', CAST(ts AS TIMESTAMP)) AS VARCHAR) AS hour_start,
           min(event_id) AS first_event_id
    FROM events
    GROUP BY user_id, event_type, date_trunc('hour', CAST(ts AS TIMESTAMP))
    """,
)
def events_window_dedup(spark, sf_dir):
    """Windowed event deduplication (batch analog of
    dropDuplicatesWithinWatermark): keep the first event per
    (user, type, hour window)."""
    e = read_table(spark, sf_dir, "events")
    return (
        e.groupBy(
            "user_id",
            "event_type",
            F.window("ts", "1 hour").alias("w"),
        )
        .agg(F.min("event_id").alias("first_event_id"))
        .select(
            "user_id",
            "event_type",
            F.col("w.start").cast("string").alias("hour_start"),
            "first_event_id",
        )
    )


@q(
    "tpch_q6_forecast_revenue",
    """
    SELECT round(sum(l_extendedprice * l_discount), 2) AS revenue,
           count(*) AS n_items
    FROM lineitem
    WHERE l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24
    """,
)
def q6(spark, sf_dir):
    li = read_table(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_discount") >= 0.05)
            & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * F.col("l_discount")), 2).alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


@q(
    "curation_leakproof_split",
    f"""
    WITH {_SHINGLES3},
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
    ),
    dsh AS (SELECT DISTINCT doc_id, sh FROM sh),
    sizes AS (SELECT doc_id, count(*) AS n FROM dsh GROUP BY 1),
    common AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS c
      FROM dsh a JOIN dsh b ON a.sh = b.sh AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ),
    verified AS (
      SELECT common.id_a, common.id_b
      FROM common
      JOIN cand ON cand.id_a = common.id_a AND cand.id_b = common.id_b
      JOIN sizes sa ON sa.doc_id = common.id_a
      JOIN sizes sb ON sb.doc_id = common.id_b
      WHERE round(CAST(c AS DOUBLE) / (sa.n + sb.n - c), 6) >= 0.3
    ),
    sym AS (
      SELECT id_a AS src, id_b AS dst FROM verified
      UNION ALL SELECT id_b, id_a FROM verified
    ),
    reach AS (
      WITH RECURSIVE r(a, b) AS (
        SELECT doc_id, doc_id FROM documents
        UNION
        SELECT r.a, s.dst FROM r JOIN sym s ON r.b = s.src
      )
      SELECT * FROM r
    ),
    canon AS (SELECT a AS id, min(b) AS canonical_id FROM reach GROUP BY a)
    SELECT id AS doc_id, canonical_id,
           CASE WHEN ('0x' || substr(md5('leak-v1::' || CAST(canonical_id AS VARCHAR)),
                                     1, 8))::BIGINT % 10000 < 8000 THEN 'train'
                WHEN ('0x' || substr(md5('leak-v1::' || CAST(canonical_id AS VARCHAR)),
                                     1, 8))::BIGINT % 10000 < 9000 THEN 'val'
                ELSE 'test' END AS split
    FROM canon
    """,
)
def curation_leakproof_split(spark, sf_dir):
    """Leak-proof dataset split: near-dup CLUSTERS (transitive closure of
    verified Jaccard ≥ 0.3 pairs) are the split unit, so no document can
    land in train while its near-copy sits in test — the leakage the
    plain per-doc hash split cannot prevent.  Split key = md5 of the
    cluster's canonical id; every member inherits it by construction."""
    from pyspark.sql import functions as F

    from .operators import curation

    d = read_table(spark, sf_dir, "documents")
    sig = dedup.minhash_signature(d, "doc_id", "text", num_hashes=4, k=3)
    cand = dedup.lsh_candidate_pairs(dedup.lsh_bands(sig, rows_per_band=2))
    verified = dedup.ngram_jaccard_pairs(
        d, "doc_id", "text", k=3, threshold=0.3, candidates=cand
    ).select("id_a", "id_b")
    canon = dedup.connected_components(d.select("doc_id"), verified)
    return curation.dataset_split(canon, "canonical_id", seed="leak-v1").select(
        F.col("id").alias("doc_id"), "canonical_id", "split"
    )


@q(
    "dedup_cluster_size_histogram",
    f"""
    WITH {_SHINGLES3},
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
    ),
    dsh AS (SELECT DISTINCT doc_id, sh FROM sh),
    sizes AS (SELECT doc_id, count(*) AS n FROM dsh GROUP BY 1),
    common AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS c
      FROM dsh a JOIN dsh b ON a.sh = b.sh AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ),
    verified AS (
      SELECT common.id_a, common.id_b
      FROM common
      JOIN cand ON cand.id_a = common.id_a AND cand.id_b = common.id_b
      JOIN sizes sa ON sa.doc_id = common.id_a
      JOIN sizes sb ON sb.doc_id = common.id_b
      WHERE round(CAST(c AS DOUBLE) / (sa.n + sb.n - c), 6) >= 0.3
    ),
    sym AS (
      SELECT id_a AS src, id_b AS dst FROM verified
      UNION ALL SELECT id_b, id_a FROM verified
    ),
    reach AS (
      WITH RECURSIVE r(a, b) AS (
        SELECT doc_id, doc_id FROM documents
        UNION
        SELECT r.a, s.dst FROM r JOIN sym s ON r.b = s.src
      )
      SELECT * FROM r
    ),
    canon AS (SELECT a AS id, min(b) AS canonical_id FROM reach GROUP BY a),
    csize AS (SELECT canonical_id, count(*) AS cluster_size FROM canon GROUP BY 1)
    SELECT cluster_size, count(*) AS n_clusters,
           CAST(cluster_size * count(*) AS BIGINT) AS n_docs
    FROM csize GROUP BY 1
    """,
)
def dedup_cluster_size_histogram(spark, sf_dir):
    """Duplicate-structure report: the distribution of near-dup cluster
    sizes (1 = unique docs; the tail shows template families) — the
    one-glance answer to "how duplicated is this corpus, and in what
    shape?".  Two tiny aggregates on top of the shared connected-
    components plan; the histogram key is cluster size, so output is
    O(max cluster size) rows."""
    d = read_table(spark, sf_dir, "documents")
    sig = dedup.minhash_signature(d, "doc_id", "text", num_hashes=4, k=3)
    cand = dedup.lsh_candidate_pairs(dedup.lsh_bands(sig, rows_per_band=2))
    verified = dedup.ngram_jaccard_pairs(
        d, "doc_id", "text", k=3, threshold=0.3, candidates=cand
    ).select("id_a", "id_b")
    canon = dedup.connected_components(d.select("doc_id"), verified)
    csize = canon.groupBy("canonical_id").agg(F.count(F.lit(1)).alias("cluster_size"))
    return csize.groupBy("cluster_size").agg(
        F.count(F.lit(1)).alias("n_clusters"),
        (F.col("cluster_size") * F.count(F.lit(1))).cast("bigint").alias("n_docs"),
    )


@q(
    "dedup_pair_features",
    f"""
    WITH {_SHINGLES3},
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
    ),
    dsh AS (SELECT DISTINCT doc_id, sh FROM sh),
    sizes AS (SELECT doc_id, count(*) AS n FROM dsh GROUP BY 1),
    common AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS c
      FROM dsh a JOIN dsh b ON a.sh = b.sh AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ),
    stoks AS (
      SELECT doc_id, t.tok FROM (
        SELECT doc_id, unnest(string_split({_NORM}, ' ')) AS tok FROM documents
      ) t WHERE t.tok != ''
    ),
    shashed AS (
      SELECT doc_id,
             ('0x' || substr(md5(tok), 1, 15))::BIGINT % 1152921504606846976 AS h
      FROM stoks
    ),
    sbits AS (
      SELECT doc_id, h, b.bit
      FROM shashed, (SELECT unnest(generate_series(0, 59)) AS bit) b
    ),
    svotes AS (
      SELECT doc_id, bit,
             sum(CASE WHEN (h >> bit) & 1 = 1 THEN 1 ELSE -1 END) AS v
      FROM sbits GROUP BY 1, 2
    ),
    sfp AS (
      SELECT doc_id,
             CAST(sum(CASE WHEN v > 0 THEN (1::BIGINT << bit) ELSE 0 END) AS BIGINT) AS fp
      FROM svotes GROUP BY 1
    ),
    lens AS (SELECT doc_id, n_chars FROM documents)
    SELECT c.id_a, c.id_b,
           round(coalesce(cm.c, 0) / CAST(sa.n + sb.n - coalesce(cm.c, 0) AS DOUBLE), 6)
             AS jaccard,
           round(coalesce(cm.c, 0) / CAST(least(sa.n, sb.n) AS DOUBLE), 6)
             AS containment,
           round(least(la.n_chars, lb.n_chars)
                 / CAST(greatest(la.n_chars, lb.n_chars) AS DOUBLE), 6) AS len_ratio,
           CAST(bit_count(xor(fa.fp, fb.fp)) AS BIGINT) AS simhash_hamming
    FROM cand c
    LEFT JOIN common cm ON cm.id_a = c.id_a AND cm.id_b = c.id_b
    JOIN sizes sa ON sa.doc_id = c.id_a
    JOIN sizes sb ON sb.doc_id = c.id_b
    JOIN lens la ON la.doc_id = c.id_a
    JOIN lens lb ON lb.doc_id = c.id_b
    JOIN sfp fa ON fa.doc_id = c.id_a
    JOIN sfp fb ON fb.doc_id = c.id_b
    """,
)
def dedup_pair_features(spark, sf_dir):
    """Rerank-training pair features: for every LSH candidate pair, the
    full similarity-signal vector — Jaccard, containment, length ratio,
    and simhash hamming — as ONE composed plan.  This is the feature
    extraction a learned dedup/rerank model trains on; every signal's
    expensive subtree (candidates, shingle arrays, fingerprints) is the
    same operator the standalone queries use, checkpointed once and
    joined candidate-bounded."""
    from .queries_scale import _NORM as _  # noqa: F401  (oracle shares the fragment)

    d = read_table(spark, sf_dir, "documents")
    sig = dedup.minhash_signature(d, "doc_id", "text", num_hashes=4, k=3)
    cand = dedup.lsh_candidate_pairs(dedup.lsh_bands(sig, rows_per_band=2))
    ov = dedup._pair_overlaps(d, "doc_id", "text", k=3, candidates=cand)
    fp = session.materialize(dedup.simhash(d, "doc_id", "text", bits=60))
    lens = d.select("doc_id", "n_chars")
    fa = fp.select(F.col("id").alias("id_a"), F.col("simhash").alias("_fa"))
    fb = fp.select(F.col("id").alias("id_b"), F.col("simhash").alias("_fb"))
    la = lens.select(F.col("doc_id").alias("id_a"), F.col("n_chars").alias("_la"))
    lb = lens.select(F.col("doc_id").alias("id_b"), F.col("n_chars").alias("_lb"))
    return (
        ov.join(fa, "id_a").join(fb, "id_b")
        .join(F.broadcast(la), "id_a").join(F.broadcast(lb), "id_b")
        .select(
            "id_a", "id_b",
            F.round(
                F.col("common") / (F.col("na") + F.col("nb") - F.col("common")).cast("double"), 6
            ).alias("jaccard"),
            F.round(
                F.col("common") / F.least("na", "nb").cast("double"), 6
            ).alias("containment"),
            F.round(
                F.least("_la", "_lb") / F.greatest("_la", "_lb").cast("double"), 6
            ).alias("len_ratio"),
            F.bit_count(F.expr("_fa ^ _fb")).cast("bigint").alias("simhash_hamming"),
        )
    )


@q(
    "dedup_lsh_recall",
    f"""
    WITH {_SHINGLES3},
    nd AS (SELECT count(*) AS n_corpus FROM documents),
    tdoc AS (
      SELECT doc_id FROM documents, nd
      WHERE nd.n_corpus <= 10000
         OR ('0x' || substr(md5('lshr-v1::' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 4 = 0
    ),
    dsh AS (SELECT DISTINCT doc_id, sh FROM sh
            WHERE doc_id IN (SELECT doc_id FROM tdoc)),
    sizes AS (SELECT doc_id, count(*) AS n FROM dsh GROUP BY 1),
    common AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS c
      FROM dsh a JOIN dsh b ON a.sh = b.sh AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ),
    truth AS (
      SELECT common.id_a, common.id_b
      FROM common
      JOIN sizes sa ON sa.doc_id = common.id_a
      JOIN sizes sb ON sb.doc_id = common.id_b
      WHERE round(CAST(c AS DOUBLE) / (sa.n + sb.n - c), 6) >= 0.3
    ),
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
    ),
    hit AS (SELECT t.id_a, t.id_b FROM truth t
            JOIN cand c ON c.id_a = t.id_a AND c.id_b = t.id_b)
    SELECT CAST((SELECT count(*) FROM truth) AS BIGINT) AS n_true_pairs,
           CAST((SELECT count(*) FROM cand) AS BIGINT) AS n_candidates,
           CAST((SELECT count(*) FROM hit) AS BIGINT) AS n_hit,
           round(CASE WHEN (SELECT count(*) FROM truth) > 0
                      THEN CAST((SELECT count(*) FROM hit) AS DOUBLE)
                           / (SELECT count(*) FROM truth) ELSE 1.0 END, 6)
             AS recall,
           round(CASE WHEN (SELECT count(*) FROM cand) > 0
                      THEN CAST((SELECT count(*) FROM hit) AS DOUBLE)
                           / (SELECT count(*) FROM cand) ELSE 1.0 END, 6)
             AS candidate_precision
    """,
)
def dedup_lsh_recall(spark, sf_dir):
    """The LSH recall CONTRACT as a queryable metric (the dedup
    counterpart of similarity_ann_recall): ground-truth pairs with
    exact 3-gram Jaccard >= 0.3 via the shingle self-join, LSH
    candidates from the 4-hash / 2-row-band scheme, and the one-row
    report (n_true_pairs, n_candidates, n_hit, recall,
    candidate_precision).  Recall quantifies what the banding misses;
    candidate precision quantifies the verify stage's workload quality.

    The exact truth side is the expensive leg (Σ|bucket|² over shingle
    buckets), so it carries a WIRED sampling valve: corpora over 10 000
    docs restrict the truth computation to the deterministic md5 quarter
    (``split_bucket('lshr-v1') == 0`` — reproducible across engines,
    runs, and layouts, and replayed verbatim by the oracle), which cuts
    the self-join's pair exposure 16×.  Recall over doc-sampled truth
    pairs is an unbiased estimate of pair recall when LSH misses are
    independent of the sample (std err ≈ sqrt(r(1-r)/n_true_sampled));
    candidate counts stay full-corpus.  Test scales (≤10 000 docs) take
    the full corpus, so the oracle stays exact end to end."""
    d = read_table(spark, sf_dir, "documents")
    nd = d.agg(F.count(F.lit(1)).alias("_n_corpus"))
    sampled = (
        d.crossJoin(F.broadcast(nd))
        .filter(
            (F.col("_n_corpus") <= F.lit(10000))
            | (curation.split_bucket("doc_id", "lshr-v1", buckets=4) == 0)
        )
        .drop("_n_corpus")
    )
    truth = dedup.ngram_jaccard_pairs(
        sampled, "doc_id", "text", k=3, threshold=0.3
    )
    sig = dedup.minhash_signature(d, "doc_id", "text", num_hashes=4, k=3)
    cand = dedup.lsh_candidate_pairs(dedup.lsh_bands(sig, rows_per_band=2))
    hit = truth.join(cand, ["id_a", "id_b"], "left_semi")
    n_true = truth.agg(F.count(F.lit(1)).cast("bigint").alias("n_true_pairs"))
    n_cand = cand.agg(F.count(F.lit(1)).cast("bigint").alias("n_candidates"))
    n_hit = hit.agg(F.count(F.lit(1)).cast("bigint").alias("n_hit"))
    return (
        n_true.crossJoin(n_cand).crossJoin(n_hit)
        .select(
            "n_true_pairs", "n_candidates", "n_hit",
            F.round(
                F.when(F.col("n_true_pairs") > 0,
                       F.col("n_hit") / F.col("n_true_pairs"))
                .otherwise(F.lit(1.0)), 6,
            ).alias("recall"),
            F.round(
                F.when(F.col("n_candidates") > 0,
                       F.col("n_hit") / F.col("n_candidates"))
                .otherwise(F.lit(1.0)), 6,
            ).alias("candidate_precision"),
        )
    )


@q(
    "dedup_minhash_estimator_quality",
    f"""
    WITH {_SHINGLES3},
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
    ),
    wide AS (
      SELECT doc_id, s.seed, md5(CAST(s.seed AS VARCHAR) || '|' || sh) AS h
      FROM sh, (SELECT unnest(generate_series(0, 15)) AS seed) s
    ),
    wsig AS (SELECT doc_id AS id, seed, min(h) AS minhash FROM wide GROUP BY 1, 2),
    est AS (
      SELECT c.id_a, c.id_b,
             round(CAST(sum(CASE WHEN a.minhash = b.minhash THEN 1 ELSE 0 END)
                        AS DOUBLE) / 16.0, 6) AS jacc_est
      FROM cand c
      JOIN wsig a ON a.id = c.id_a
      JOIN wsig b ON b.id = c.id_b AND b.seed = a.seed
      GROUP BY c.id_a, c.id_b
    ),
    dsh AS (SELECT DISTINCT doc_id, sh FROM sh),
    sizes AS (SELECT doc_id, count(*) AS n FROM dsh GROUP BY 1),
    common AS (
      SELECT c.id_a, c.id_b, count(*) AS cc
      FROM cand c
      JOIN dsh a ON a.doc_id = c.id_a
      JOIN dsh b ON b.doc_id = c.id_b AND b.sh = a.sh
      GROUP BY 1, 2
    ),
    exact AS (
      SELECT c.id_a, c.id_b,
             round(CAST(coalesce(cm.cc, 0) AS DOUBLE)
                   / (sa.n + sb.n - coalesce(cm.cc, 0)), 6) AS jacc_exact
      FROM cand c
      LEFT JOIN common cm ON cm.id_a = c.id_a AND cm.id_b = c.id_b
      JOIN sizes sa ON sa.doc_id = c.id_a
      JOIN sizes sb ON sb.doc_id = c.id_b
    )
    SELECT e.id_a, e.id_b, e.jacc_est, x.jacc_exact,
           round(abs(e.jacc_est - x.jacc_exact), 6) AS abs_err
    FROM est e JOIN exact x ON x.id_a = e.id_a AND x.id_b = e.id_b
    """,
)
def dedup_minhash_estimator_quality(spark, sf_dir):
    """MinHash ESTIMATOR quality as data (the signature-side companion
    of dedup_lsh_recall's candidate-side contract): for every LSH
    candidate pair, the 16-hash signature estimate of Jaccard
    (fraction of agreeing minima — the unbiased MinHash estimator)
    NEXT TO the exact shingle Jaccard and the absolute error.  This is
    what tells you whether the VERIFY stage can run on signatures
    alone (cheap, signature-sized) or must touch the shingle sets
    (exact, witness-sized) at a given error tolerance.  Candidate
    generation stays the standard 4-hash/2-row bands; only the
    ESTIMATE widens to 16 hashes — at 100 TB the signature join is
    |candidates| x 16 rows while the exact leg is witness-sized, which
    is exactly the trade the report quantifies."""
    d = read_table(spark, sf_dir, "documents")
    sig4 = dedup.minhash_signature(d, "doc_id", "text", num_hashes=4, k=3)
    cand = session.materialize(
        dedup.lsh_candidate_pairs(dedup.lsh_bands(sig4, rows_per_band=2))
    )  # three consumers below
    wsig = dedup.minhash_signature(d, "doc_id", "text", num_hashes=16, k=3)
    a = wsig.select(F.col("id").alias("id_a"), "seed",
                    F.col("minhash").alias("_ma"))
    b = wsig.select(F.col("id").alias("id_b"), "seed",
                    F.col("minhash").alias("_mb"))
    est = (
        cand.join(a, "id_a").join(b, ["id_b", "seed"])
        .groupBy("id_a", "id_b")
        .agg(F.round(
            F.sum((F.col("_ma") == F.col("_mb")).cast("int")).cast("double")
            / F.lit(16.0), 6).alias("jacc_est"))
    )
    exact = dedup.ngram_jaccard_pairs(
        d, "doc_id", "text", k=3, threshold=0.0, candidates=cand
    ).select("id_a", "id_b", F.col("jacc").alias("jacc_exact"))
    return est.join(exact, ["id_a", "id_b"]).select(
        "id_a", "id_b", "jacc_est", "jacc_exact",
        F.round(F.abs(F.col("jacc_est") - F.col("jacc_exact")), 6)
        .alias("abs_err"),
    )
