"""Oracle-checked queries for the corpus-curation additions: k-means
bucketing over embeddings, tf-idf term extraction, unigram-LM fluency
scoring, and quality-aware canonical selection for near-dup groups.

Cross-engine discipline as everywhere: doubles rounded in-query on both
sides, int32-producing Spark functions cast to bigint, md5 hex for digests,
deterministic tie-breaks on every ranking.
"""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql.window import Window

from . import session
from .operators import clustering, textanalysis
from .queries_core import q, read_table, table_num_rows

_NORM = "lower(regexp_replace(trim(text), '\\s+', ' ', 'g'))"

# DuckDB mirror of one squared-L2 nearest-centroid assignment given CTEs
# ``vx`` (vec_id, i, x) and a centroid relation {cen} (cid, i, x); emits
# {out} (vec_id, cid).
_ASSIGN_SQL = """
  d_{out} AS (
    SELECT v.vec_id, c.cid, round(sum((v.x - c.x) * (v.x - c.x)), 6) AS d2
    FROM vx v JOIN {cen} c ON v.i = c.i
    GROUP BY v.vec_id, c.cid
  ),
  {out} AS (
    SELECT vec_id, cid FROM (
      SELECT vec_id, cid,
             row_number() OVER (PARTITION BY vec_id ORDER BY d2 ASC, cid ASC) AS rn
      FROM d_{out}
    ) WHERE rn = 1
  )
"""


@q(
    "clustering_kmeans_assign",
    """
    WITH idx AS (SELECT unnest(generate_series(1, 64)) AS i),
    vx AS (SELECT vec_id, i, CAST(embedding[i] AS DOUBLE) AS x
           FROM embeddings, idx),
    cen0 AS (
      SELECT vec_id AS cid, i, x FROM vx
      WHERE vec_id % (SELECT greatest(61, CAST(floor(sqrt(count(*))) AS BIGINT))
                      FROM embeddings) = 0
    ),
    """
    + _ASSIGN_SQL.format(cen="cen0", out="a1")
    + """,
    cen1 AS (
      SELECT a1.cid, v.i, round(avg(v.x), 6) AS x
      FROM vx v JOIN a1 ON v.vec_id = a1.vec_id
      GROUP BY a1.cid, v.i
    ),
    """
    + _ASSIGN_SQL.format(cen="cen1", out="a2")
    + """,
    cen2 AS (
      SELECT a2.cid, v.i, round(avg(v.x), 6) AS x
      FROM vx v JOIN a2 ON v.vec_id = a2.vec_id
      GROUP BY a2.cid, v.i
    ),
    """
    + _ASSIGN_SQL.format(cen="cen2", out="a3")
    + """
    SELECT vec_id, cid AS cluster FROM a3
    """,
)
def kmeans_assign_q(spark, sf_dir):
    """Two Lloyd rounds from deterministic strided seeds, then the final
    assignment — k-means as embedding bucketing for semantic sharding.
    Centroid count scales as √n (same stride rule as the IVF queries);
    per round the vectors are scanned once map-side against broadcast
    centroids and only C × dim averaged partials shuffle.  Every distance
    and every centroid coordinate is rounded before use, so the two
    engines walk the identical trajectory."""
    import math

    e = read_table(spark, sf_dir, "embeddings")
    stride = max(61, int(math.isqrt(table_num_rows(sf_dir, "embeddings"))))
    seeds = e.filter(F.col("vec_id") % stride == 0).select(
        F.col("vec_id").alias("cid"), F.col("embedding").alias("cv")
    )
    return clustering.kmeans_iterate(e, seeds, iterations=2).select(
        F.col("id").alias("vec_id"), "cluster"
    )


@q(
    "text_tfidf_topk",
    f"""
    WITH toks AS (
      SELECT doc_id, t.tok FROM (
        SELECT doc_id, unnest(string_split({_NORM}, ' ')) AS tok FROM documents
      ) t WHERE t.tok != ''
    ),
    tf AS (SELECT doc_id, tok, count(*) AS tf FROM toks GROUP BY doc_id, tok),
    dfreq AS (SELECT tok, count(*) AS df FROM tf GROUP BY tok),
    n AS (SELECT count(*) AS n_docs FROM documents)
    SELECT doc_id, tok, tf,
           round(CAST(tf AS DOUBLE) * ln((n_docs + 1.0) / (df + 1.0)), 6) AS score,
           rank
    FROM (
      SELECT tf.doc_id, tf.tok, tf.tf, dfreq.df, n.n_docs,
             row_number() OVER (
               PARTITION BY tf.doc_id
               ORDER BY round(CAST(tf AS DOUBLE)
                              * ln((n_docs + 1.0) / (df + 1.0)), 6) DESC,
                        tf.tok ASC
             ) AS rank
      FROM tf JOIN dfreq ON tf.tok = dfreq.tok, n
    ) WHERE rank <= 3
    """,
)
def tfidf_topk_q(spark, sf_dir):
    """Top-3 tf-idf terms per document (keyword extraction / topic
    signal).  The vocabulary-sized document-frequency dim broadcasts back
    onto the per-doc counts; ties rank lexicographically so the top-k
    boundary is stable."""
    d = read_table(spark, sf_dir, "documents")
    return textanalysis.tfidf_topk(d, "doc_id", "text", k=3).withColumnRenamed(
        "id", "doc_id"
    )


@q(
    "text_bm25_topk",
    f"""
    WITH toks AS (
      SELECT doc_id, t.tok FROM (
        SELECT doc_id, unnest(string_split({_NORM}, ' ')) AS tok FROM documents
      ) t WHERE t.tok != ''
    ),
    tf AS (SELECT doc_id, tok, count(*) AS tf FROM toks GROUP BY doc_id, tok),
    dl AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS dl FROM tf GROUP BY doc_id),
    stats AS (SELECT CAST(count(*) AS BIGINT) AS n_docs, avg(dl) AS avgdl FROM dl),
    qt AS (SELECT unnest(['spark', 'merge', 'vector', 'query']) AS tok),
    tfq AS (SELECT tf.doc_id, tf.tok, tf.tf FROM tf JOIN qt USING (tok)),
    dfreq AS (SELECT tok, count(*) AS df FROM tfq GROUP BY tok),
    scored AS (
      SELECT tfq.doc_id AS id,
             round(sum(ln(1.0 + (n_docs - df + 0.5) / (df + 0.5))
                       * (tf * 2.2 / (tf + 1.2 * (1 - 0.75 + 0.75 * dl / avgdl)))), 6)
                 AS bm25,
             CAST(count(*) AS BIGINT) AS n_terms_hit
      FROM tfq
      JOIN dl ON dl.doc_id = tfq.doc_id
      JOIN dfreq ON dfreq.tok = tfq.tok, stats
      GROUP BY tfq.doc_id
    )
    SELECT id, bm25, n_terms_hit,
           CAST(row_number() OVER (ORDER BY bm25 DESC, id ASC) AS BIGINT) AS rank
    FROM scored
    ORDER BY bm25 DESC, id ASC LIMIT 10
    """,
)
def text_bm25_topk(spark, sf_dir):
    """Okapi BM25 top-10 against a fixed 4-term query (k1=1.2, b=0.75):
    the sparse-retrieval baseline for pulling task-relevant pretraining
    docs.  Query restriction, per-term document frequencies, and the
    one-row corpus stats broadcast; the final top-k plans as
    TakeOrderedAndProject, never a single-task global window."""
    d = read_table(spark, sf_dir, "documents")
    return textanalysis.bm25_topk(
        d, "doc_id", "text", ["spark", "merge", "vector", "query"], k=10
    )


@q(
    "text_unigram_logprob",
    f"""
    WITH toks AS (
      SELECT doc_id, t.tok FROM (
        SELECT doc_id, unnest(string_split({_NORM}, ' ')) AS tok FROM documents
      ) t WHERE t.tok != ''
    ),
    counts AS (SELECT tok, count(*) AS cnt FROM toks GROUP BY tok),
    tot AS (SELECT count(*) AS total FROM toks)
    SELECT doc_id, count(*) AS n_tokens,
           round(avg(ln(CAST(cnt AS DOUBLE) / CAST(total AS DOUBLE))), 4)
             AS avg_logprob
    FROM toks JOIN counts USING (tok), tot
    GROUP BY doc_id
    """,
)
def unigram_logprob_q(spark, sf_dir):
    """Mean unigram log-probability per document under the corpus's own
    unigram model — the perplexity-style fluency signal for quality
    filtering."""
    d = read_table(spark, sf_dir, "documents")
    return textanalysis.unigram_logprob(d, "doc_id", "text").withColumnRenamed(
        "id", "doc_id"
    )


@q(
    "dedup_canonical_by_quality",
    f"""
    WITH toks AS (SELECT doc_id, string_split({_NORM}, ' ') AS t FROM documents),
    sh AS (
      SELECT doc_id, md5(array_to_string(list_slice(t, i, i + 7), ' ')) AS h
      FROM toks, unnest(generate_series(1, greatest(len(t) - 7, 1))) AS u(i)
    ),
    fp AS (SELECT doc_id, min(h) AS fingerprint FROM sh GROUP BY doc_id),
    m AS (
      SELECT doc_id,
             CAST(length(text) AS DOUBLE) AS n_chars,
             CAST(length(regexp_replace(lower(text), '[^a-z]', '', 'g')) AS DOUBLE)
               AS n_alpha,
             CAST(length(regexp_replace(text, '[^!-/:-@\\[-`{{-~]', '', 'g'))
                  AS DOUBLE) AS n_punct,
             CAST(len(list_filter(string_split({_NORM}, ' '), x -> x != ''))
                  AS DOUBLE) AS n_tok,
             CAST(len(list_filter(string_split({_NORM}, ' '),
                  x -> list_contains(['the','and','of','to','is','in','that','it',
                                      'was','for'], x))) AS DOUBLE) AS en_stop
      FROM documents
    ),
    quality AS (
      SELECT doc_id,
             round(0.3 * least(n_chars / 500.0, 1.0)
                 + 0.3 * (CASE WHEN n_chars > 0 THEN n_alpha / n_chars ELSE 0.0 END)
                 + 0.2 * (CASE WHEN n_tok > 0
                               THEN least(en_stop / (n_tok * 0.1 + 1e-9), 1.0)
                               ELSE 0.0 END)
                 + 0.2 * (CASE WHEN n_chars > 0
                               THEN 1.0 - least(n_punct / n_chars * 5, 1.0)
                               ELSE 0.0 END), 6) AS quality
      FROM m
    )
    SELECT fingerprint, doc_id AS kept_doc_id, quality AS kept_quality,
           n_dups
    FROM (
      SELECT fp.fingerprint, fp.doc_id, q.quality,
             count(*) OVER (PARTITION BY fp.fingerprint) AS n_dups,
             row_number() OVER (
               PARTITION BY fp.fingerprint
               ORDER BY q.quality DESC, fp.doc_id ASC
             ) AS rn
      FROM fp JOIN quality q USING (doc_id)
    ) WHERE rn = 1 AND n_dups > 1
    """,
)
def canonical_by_quality_q(spark, sf_dir):
    """Quality-aware canonical selection: within each near-dup group
    (documents sharing an 8-shingle min-digest fingerprint), KEEP the
    highest-quality member instead of the min-id — what a curation
    pipeline actually wants from dedup.  One fingerprint aggregation, one
    quality projection, one windowed argmax per group; ties break on
    doc_id.  Only groups with real duplicates are emitted."""
    d = read_table(spark, sf_dir, "documents")
    fp = textanalysis.fingerprint_df(d, "doc_id", "text", k=8)
    quality = d.select("doc_id", textanalysis.quality_score("text").alias("quality"))
    joined = fp.join(quality, "doc_id")
    w = Window.partitionBy("fingerprint")
    ranked = (
        joined.withColumn("n_dups", F.count("*").over(w))
        .withColumn(
            "rn",
            F.row_number().over(
                w.orderBy(F.col("quality").desc(), F.col("doc_id").asc())
            ),
        )
        .filter((F.col("rn") == 1) & (F.col("n_dups") > 1))
    )
    return ranked.select(
        "fingerprint",
        F.col("doc_id").alias("kept_doc_id"),
        F.col("quality").alias("kept_quality"),
        "n_dups",
    )


@q(
    "curation_shard_assign",
    f"""
    WITH sized AS (
      SELECT doc_id,
             ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 16
               AS shard,
             len(list_filter(string_split({_NORM}, ' '), x -> x != ''))
               AS n_tokens
      FROM documents
    )
    SELECT shard, count(*) AS n_docs, CAST(sum(n_tokens) AS BIGINT) AS total_tokens
    FROM sized GROUP BY shard
    """,
)
def shard_assign_q(spark, sf_dir):
    """Deterministic output sharding for training-data writes: shard =
    md5(doc_id) mod 16 (content-independent, engine-independent — NOT
    Spark's hash(), which DuckDB can't reproduce), with per-shard doc and
    token totals for budget accounting.  At scale this is the
    repartition-by-expression before the sharded writer (sinks.py)."""
    d = read_table(spark, sf_dir, "documents")
    shard = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 15), 16, 10)
        .cast("bigint")
        % 16
    )
    return (
        d.select(
            shard.alias("shard"),
            textanalysis.token_count("text").cast("bigint").alias("n_tokens"),
        )
        .groupBy("shard")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tokens").alias("total_tokens"),
        )
    )


@q(
    "text_bigram_logprob",
    f"""
    WITH toks AS (
      SELECT doc_id, list_filter(string_split({_NORM}, ' '), x -> x != '') AS t
      FROM documents
    ),
    pairs AS (
      SELECT doc_id, t[i] AS prev, t[i + 1] AS tok
      FROM toks, unnest(generate_series(1, len(t) - 1)) AS u(i)
    ),
    bg AS (SELECT prev, tok, count(*) AS bgc FROM pairs GROUP BY 1, 2),
    ctx AS (SELECT prev, count(*) AS ctxc FROM pairs GROUP BY 1)
    SELECT doc_id, count(*) AS n_bigrams,
           round(avg(ln(CAST(bgc AS DOUBLE) / CAST(ctxc AS DOUBLE))), 4)
             AS avg_logprob
    FROM pairs JOIN bg USING (prev, tok) JOIN ctx USING (prev)
    GROUP BY doc_id
    """,
)
def bigram_logprob_q(spark, sf_dir):
    """Mean bigram log-probability per document under the corpus's own
    bigram model — sharper fluency/outlier signal than the unigram score
    (word salad of common words still scores low)."""
    d = read_table(spark, sf_dir, "documents")
    return textanalysis.bigram_logprob(d, "doc_id", "text").withColumnRenamed(
        "id", "doc_id"
    )


@q(
    "embedding_mean_pool",
    """
    WITH vx AS (
      SELECT label, i, CAST(embedding[i] AS DOUBLE) AS x
      FROM embeddings, (SELECT unnest(generate_series(1, 64)) AS i) ix
    ),
    nv AS (SELECT label, count(*) AS n_vectors FROM embeddings GROUP BY 1)
    SELECT v.label, v.i, round(avg(v.x), 6) AS mean_x, nv.n_vectors
    FROM vx v JOIN nv ON nv.label = v.label
    GROUP BY v.label, v.i, nv.n_vectors
    """,
)
def embedding_mean_pool(spark, sf_dir):
    """Per-label mean-pooled embedding (class centroid / prototype vector)
    in long (label, dim) form — the shuffle-friendly layout for vector
    aggregation at scale: the exchange carries (label, dim) partial sums,
    whole vectors never shuffle, and map-side combine collapses each
    partition to ≤ |labels|×dims rows before the wire."""
    e = read_table(spark, sf_dir, "embeddings")
    ex = e.select(
        "label", F.posexplode("embedding").alias("i", "x")
    ).select("label", (F.col("i") + 1).alias("i"), F.col("x").cast("double").alias("x"))
    agg = ex.groupBy("label", "i").agg(F.round(F.avg("x"), 6).alias("mean_x"))
    nv = e.groupBy("label").agg(F.count(F.lit(1)).alias("n_vectors"))
    return agg.join(F.broadcast(nv), "label").select("label", "i", "mean_x", "n_vectors")


@q(
    "embedding_quantize_int8",
    """
    WITH v AS (
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
      FROM embeddings
    ),
    s AS (
      SELECT vec_id, e, list_min(e) AS mn, list_max(e) AS mx,
             CASE WHEN list_max(e) > list_min(e)
                  THEN (list_max(e) - list_min(e)) / 255.0 END AS sc
      FROM v
    ),
    qq AS (
      SELECT vec_id, e, mn, mx, sc,
             CASE WHEN sc IS NULL THEN list_transform(e, x -> CAST(0 AS BIGINT))
                  ELSE list_transform(e, x -> CAST(round((x - mn) / sc) AS BIGINT))
             END AS q
      FROM s
    )
    SELECT vec_id AS id,
           round(mn, 6) AS q_min,
           round(mx, 6) AS q_max,
           CAST(list_sum(q) AS BIGINT) AS q_sum,
           round(CASE WHEN sc IS NULL THEN 0.0
                      ELSE list_sum(list_transform(range(1, len(e) + 1),
                             i -> pow(e[i] - (mn + q[i] * sc), 2))) / len(e)
                 END, 8) AS recon_mse
    FROM qq
    """,
)
def embedding_quantize_int8(spark, sf_dir):
    """Int8 scale quantization of the embedding corpus with per-vector
    reconstruction MSE — the 4×-compression storage pass before an ANN
    index build.  Zero shuffles; both engines derive identical codes, so
    the code sum and MSE value-check exactly."""
    from .operators import similarity

    e = read_table(spark, sf_dir, "embeddings")
    return similarity.quantize_embeddings(e, "vec_id", "embedding")


@q(
    "embedding_ring_negatives",
    """
    WITH base AS (
      SELECT vec_id AS id, label AS lbl,
             ('0x' || substr(md5('neg-v1|' || CAST(vec_id AS VARCHAR)), 1, 8))::BIGINT
               % 16 AS shard,
             md5('neg-v1|' || CAST(vec_id AS VARCHAR)) AS h
      FROM embeddings
    ),
    ranked AS (
      SELECT id, lbl, shard,
             row_number() OVER (PARTITION BY shard ORDER BY h, id) AS pos,
             count(*) OVER (PARTITION BY shard) AS cnt
      FROM base
    ),
    anchors AS (
      SELECT r.id AS anchor_id, r.lbl AS alabel, r.shard, t.r AS neg_rank,
             (r.pos - 1 + t.r) % r.cnt + 1 AS npos
      FROM ranked r, (SELECT unnest([1, 2, 3, 4]) AS r) t
    )
    SELECT a.anchor_id, a.neg_rank, b.id AS neg_id,
           (a.alabel IS NOT DISTINCT FROM b.lbl) AS same_label
    FROM anchors a JOIN ranked b ON b.shard = a.shard AND b.pos = a.npos
    WHERE b.id != a.anchor_id
    """,
)
def embedding_ring_negatives(spark, sf_dir):
    """Contrastive negative sampling: 4 deterministic hash-ring neighbors
    per anchor from per-shard rings — reproducible negatives with no
    global sort and no RNG state; same-label collisions flagged for the
    trainer."""
    from .operators import similarity

    e = read_table(spark, sf_dir, "embeddings")
    return similarity.ring_negatives(e, "vec_id", "label", k=4, shards=16)


@q(
    "embedding_label_propagation",
    """
    WITH idx AS (SELECT unnest(generate_series(1, 64)) AS i),
    vx AS (SELECT vec_id, i, CAST(embedding[i] AS DOUBLE) AS x FROM embeddings, idx),
    planes AS (
      SELECT p.p, i.i,
             CASE WHEN ('0x' || substr(md5('42|' || CAST(p.p AS VARCHAR) || '|'
                                        || CAST(i.i - 1 AS VARCHAR)), 1, 8))::BIGINT % 2 = 0
                  THEN 1.0 ELSE -1.0 END AS w
      FROM (SELECT unnest(generate_series(0, 3)) AS p) p, idx i
    ),
    pd AS (
      SELECT v.vec_id, pl.p, round(sum(v.x * pl.w), 6) AS d
      FROM vx v JOIN planes pl ON pl.i = v.i
      GROUP BY v.vec_id, pl.p
    ),
    sig AS (
      SELECT vec_id AS id,
             CAST(sum(CASE WHEN d > 0 THEN (1::BIGINT << p) ELSE 0::BIGINT END) AS BIGINT) AS sig
      FROM pd GROUP BY vec_id
    ),
    mask AS (
      SELECT vec_id,
             ('0x' || substr(md5('mask-v1::' || CAST(vec_id AS VARCHAR)), 1, 8))::BIGINT
               % 5 = 0 AS unl
      FROM embeddings
    ),
    lab AS (
      SELECT s.id, s.sig, e.label, m.unl
      FROM sig s JOIN embeddings e ON e.vec_id = s.id
      JOIN mask m ON m.vec_id = s.id
    ),
    votes AS (
      SELECT sig, label, count(*) AS cnt FROM lab
      WHERE NOT unl AND label IS NOT NULL GROUP BY 1, 2
    ),
    maj AS (
      SELECT sig, label, cnt,
             row_number() OVER (PARTITION BY sig ORDER BY cnt DESC, label) AS rn
      FROM votes
    ),
    tot AS (SELECT sig, CAST(sum(cnt) AS BIGINT) AS n_peers FROM votes GROUP BY 1)
    SELECT l.id AS vec_id, l.sig AS bucket_sig, m2.label AS pred_label,
           coalesce(tot.n_peers, 0) AS n_peers
    FROM lab l
    LEFT JOIN (SELECT sig, label FROM maj WHERE rn = 1) m2 ON m2.sig = l.sig
    LEFT JOIN tot ON tot.sig = l.sig
    WHERE l.unl
    """,
)
def embedding_label_propagation(spark, sf_dir):
    """Semi-supervised label propagation: a deterministic 20% of vectors
    are masked unlabeled, then each inherits the majority label of its
    4-plane hyperplane-LSH bucket's labeled peers (count desc, label asc
    tie-break).  One bucket-keyed vote aggregate + broadcast majority dim
    back to the masked side — the cheap label-bootstrapping pass before
    training a classifier on a partially-labeled corpus."""
    from pyspark.sql.window import Window

    from .operators import similarity
    from .operators.curation import split_bucket

    e = read_table(spark, sf_dir, "embeddings")
    # r12 (guide §2.4): label rides the signature kernel's Arrow batch
    # (extra_cols) instead of an id-keyed join-back of the corpus — one
    # full shuffle removed from the checkpointed subtree
    lab = session.materialize(
        similarity.hyperplane_signature(e, dim=64, num_planes=4,
                                        extra_cols=["label"])
        .withColumn("unl", split_bucket("id", "mask-v1", buckets=5) == 0)
        .select("id", "sig", "label", "unl")
    )  # feeds votes + masked side
    votes = session.materialize(
        lab.filter(~F.col("unl") & F.col("label").isNotNull())
        .groupBy("sig", "label")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )  # feeds majority + totals
    w = Window.partitionBy("sig").orderBy(F.desc("cnt"), F.asc("label"))
    maj = (
        votes.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("sig", F.col("label").alias("pred_label"))
    )
    tot = votes.groupBy("sig").agg(F.sum("cnt").alias("n_peers"))
    return (
        lab.filter(F.col("unl"))
        .join(F.broadcast(maj), "sig", "left")
        .join(F.broadcast(tot), "sig", "left")
        .select(
            F.col("id").alias("vec_id"),
            F.col("sig").alias("bucket_sig"),
            "pred_label",
            F.coalesce("n_peers", F.lit(0)).cast("bigint").alias("n_peers"),
        )
    )


@q(
    "embedding_hard_negatives",
    """
    WITH idx AS (SELECT unnest(generate_series(1, 64)) AS i),
    vx AS (SELECT vec_id, i, CAST(embedding[i] AS DOUBLE) AS x FROM embeddings, idx),
    planes AS (
      SELECT p.p, i.i,
             CASE WHEN ('0x' || substr(md5('42|' || CAST(p.p AS VARCHAR) || '|'
                                        || CAST(i.i - 1 AS VARCHAR)), 1, 8))::BIGINT % 2 = 0
                  THEN 1.0 ELSE -1.0 END AS w
      FROM (SELECT unnest(generate_series(0, 3)) AS p) p, idx i
    ),
    pd AS (
      SELECT v.vec_id, pl.p, round(sum(v.x * pl.w), 6) AS d
      FROM vx v JOIN planes pl ON pl.i = v.i GROUP BY 1, 2
    ),
    sig AS (
      SELECT vec_id AS id,
             CAST(sum(CASE WHEN d > 0 THEN (1::BIGINT << p) ELSE 0::BIGINT END) AS BIGINT) AS sig
      FROM pd GROUP BY 1
    ),
    n AS (SELECT vec_id, sqrt(sum(x * x)) AS nrm FROM vx GROUP BY 1),
    lbl AS (SELECT vec_id, label FROM embeddings),
    pairs AS (
      SELECT a.id AS id_a, b.id AS id_b, la.label AS label_a, lb.label AS label_b
      FROM sig a
      JOIN sig b ON a.sig = b.sig AND a.id < b.id
      JOIN lbl la ON la.vec_id = a.id
      JOIN lbl lb ON lb.vec_id = b.id
      WHERE la.label IS DISTINCT FROM lb.label
    )
    SELECT p.id_a, p.id_b, p.label_a, p.label_b,
           round(sum(va.x * vb.x) / (any_value(na.nrm) * any_value(nb.nrm)), 6)
             AS cos_sim
    FROM pairs p
    JOIN vx va ON va.vec_id = p.id_a
    JOIN vx vb ON vb.vec_id = p.id_b AND vb.i = va.i
    JOIN n na ON na.vec_id = p.id_a
    JOIN n nb ON nb.vec_id = p.id_b
    GROUP BY 1, 2, 3, 4
    HAVING round(sum(va.x * vb.x) / (any_value(na.nrm) * any_value(nb.nrm)), 6)
           >= 0.3
    """,
)
def embedding_hard_negatives(spark, sf_dir):
    """Hard-negative mining for contrastive training: cross-LABEL pairs
    that land in the same 4-plane LSH bucket (i.e. geometrically close)
    with cosine ≥ 0.3 — the confusable pairs a contrastive loss learns
    most from, vs the uniform `embedding_ring_negatives`.  Pairing is
    bucket-bounded (Σ|bucket|², never all-pairs); norms compute once per
    vector and the dot runs on the candidate pairs only."""
    import numpy as np
    import pandas as pd

    from .operators import similarity
    from .operators.similarity import _round_half_up

    e = read_table(spark, sf_dir, "embeddings")
    # r12 (guide §2.3/§4.1/§8): the old shape re-joined the corpus by id to
    # attach label+vector to the signature, checkpointed it, SELF-JOINED on
    # sig — materializing ~n²/16 pair rows each carrying two 64-dim array
    # payloads — and shipped both arrays per pair through Arrow into the
    # cosine pandas_udf.  Now label and vector ride the signature kernel's
    # Arrow batch (extra_cols/keep_vec — free), and the verification is
    # bucket-local applyInPandas: ONE sig-keyed shuffle of n vector rows,
    # pair enumeration + cross-label mask + the same sequential-fold cosine
    # inside one numpy pass per bucket, only surviving pairs back to the
    # JVM.  Folds are order-identical to pair_cos_rounded, so floats (and
    # the 6-dp rounding) are unchanged.
    sig = similarity.hyperplane_signature(
        e.select(
            "vec_id", "label",
            F.expr("transform(embedding, x -> cast(x as double))").alias("ve"),
        ),
        dim=64, num_planes=4, vec_col="ve",
        extra_cols=["label"], keep_vec=True,
    )
    # Parallelism does NOT come free with bucket-local grouping here: the
    # bucket count is FIXED at 16 (4 planes — query semantics), so one
    # group per sig caps the verify at 16 tasks while per-bucket pairs grow
    # n²/256 (measured sf1: 16 tasks, 42 s vs the pair-join's 24 s).  The
    # triangle-grid decomposition restores it: split each bucket into s
    # id-hash blocks and group by (sig, block_i, block_j) — every unordered
    # pair lands in EXACTLY one of the s(s+1)/2 cells (diagonal cell = triu
    # within a block, off-diagonal = full cross of two blocks), each vector
    # ships to s cells (n·s·dim Arrow bytes — still ≪ the pair join's
    # 2·Σ|bucket|²·dim), and cells spread over the cluster.  s derives from
    # the parquet row count (catalog statistics at 100 TB); the per-block
    # row target derives from BYTES (r13, r12 verdict item 6): the sf1
    # measurement that picked 384 rows was taken at dim=64, i.e. ~192 KiB
    # of float64 payload per block — the quantity the A/B actually
    # balanced (Arrow gather-slice size vs task count), so it is what
    # should stay constant if the vector width ever changes.  At dim=64
    # this is exactly the measured 384; s=1 (small inputs) skips the
    # explode entirely.
    import math

    from .queries_core import table_num_rows

    dim = 64  # query semantics: the 64-dim embeddings table
    block_target_bytes = 384 * 64 * 8  # r12's measured sf1 optimum, as bytes
    rows_per_block = max(1, block_target_bytes // (dim * 8))
    m_est = max(1, table_num_rows(sf_dir, "embeddings") // 16)
    s = max(1, math.ceil(m_est / rows_per_block))
    chunk = 250_000  # caps each gather slice at ~chunk·dim·8·2 bytes

    def verify(pdf: pd.DataFrame) -> pd.DataFrame:
        empty = pd.DataFrame({
            "id_a": pd.Series([], dtype="int64"),
            "id_b": pd.Series([], dtype="int64"),
            "label_a": pd.Series([], dtype="float64"),
            "label_b": pd.Series([], dtype="float64"),
            "cos_sim": pd.Series([], dtype="float64"),
        })
        m = len(pdf)
        if m < 2:
            return empty
        order = np.argsort(pdf["id"].values, kind="stable")
        ids = pdf["id"].values[order]
        labels = pdf["label"].values[order]
        lab_null = pd.isna(labels)
        V = np.array(
            [np.asarray(x, dtype=np.float64) for x in pdf["v"].values[order]]
        )
        dim = V.shape[1]
        sq = np.zeros(m)
        for d in range(dim):  # per-vector norm, same sequential fold
            sq += V[:, d] * V[:, d]
        nrm = np.sqrt(sq)
        if "ci" in pdf.columns and pdf["ci"].iat[0] != pdf["cj"].iat[0]:
            # off-diagonal grid cell: all pairs across the two blocks
            blk = pdf["blk"].values[order]
            li = np.flatnonzero(blk == pdf["ci"].iat[0])
            lj = np.flatnonzero(blk == pdf["cj"].iat[0])
            ia = np.repeat(li, len(lj))
            ib = np.tile(lj, len(li))
            # normalize to id_a < id_b (ids are unique; blocks are disjoint)
            swap = ids[ia] > ids[ib]
            ia, ib = np.where(swap, ib, ia), np.where(swap, ia, ib)
        else:
            # whole bucket (s=1) or diagonal cell: triu over sorted ids
            ia, ib = np.triu_indices(m, k=1)
        # cross-label (null-safe IS DISTINCT FROM) mask BEFORE the dot —
        # same pre-filter position as the old join condition
        same = (labels[ia] == labels[ib]) | (lab_null[ia] & lab_null[ib])
        ia, ib = ia[~same], ib[~same]
        out = []
        for lo in range(0, len(ia), chunk):
            sa, sb = ia[lo : lo + chunk], ib[lo : lo + chunk]
            A, B = V[sa], V[sb]
            dot = np.zeros(len(sa))
            for d in range(dim):  # sequential fold — see pair_cos_rounded
                dot += A[:, d] * B[:, d]
            cos = _round_half_up(dot / (nrm[sa] * nrm[sb]), 6)
            keep = (cos >= 0.3) | np.isnan(cos)  # engine NaN-greatest semantics
            out.append(pd.DataFrame({
                "id_a": ids[sa[keep]], "id_b": ids[sb[keep]],
                "label_a": labels[sa[keep]], "label_b": labels[sb[keep]],
                "cos_sim": cos[keep],
            }))
        return pd.concat(out) if out else empty

    lbl_type = e.schema["label"].dataType.simpleString()
    out_schema = (f"id_a bigint, id_b bigint, label_a {lbl_type}, "
                  f"label_b {lbl_type}, cos_sim double")
    if s == 1:
        return sig.groupBy("sig").applyInPandas(verify, schema=out_schema)
    g = (
        sig.withColumn("blk", F.pmod(F.xxhash64("id"), F.lit(s)).cast("int"))
        .withColumn("_mate", F.explode(F.array(*[F.lit(j) for j in range(s)])))
        .withColumn("ci", F.least("blk", "_mate"))
        .withColumn("cj", F.greatest("blk", "_mate"))
        .drop("_mate")
    )
    return g.groupBy("sig", "ci", "cj").applyInPandas(verify, schema=out_schema)


@q(
    "text_cross_entropy_filter",
    f"""
    WITH base AS (
      SELECT doc_id,
             list_filter(string_split({_NORM}, ' '), t -> t != '') AS t,
             ('0x' || substr(md5('ce-v1::' || CAST(doc_id AS VARCHAR)),
                             1, 8))::BIGINT % 10 AS b
      FROM documents
    ),
    train AS (SELECT doc_id, t FROM base WHERE b < 3),
    rest  AS (SELECT doc_id, t FROM base WHERE b >= 3),
    tpair AS (
      SELECT t[i] AS prev, t[i + 1] AS tok
      FROM train, unnest(generate_series(1, len(t) - 1)) AS u(i)
    ),
    bg AS (SELECT prev, tok, CAST(count(*) AS DOUBLE) AS c
           FROM tpair GROUP BY prev, tok),
    ctx AS (SELECT prev, sum(c) AS cc FROM bg GROUP BY prev),
    vocab AS (
      SELECT DISTINCT t[i] AS tok
      FROM train, unnest(generate_series(1, len(t))) AS u(i)
    ),
    vs AS (SELECT count(*) + 1.0 AS v FROM vocab),
    stoks AS (
      SELECT s.doc_id, s.i,
             CASE WHEN vv.tok IS NULL THEN chr(1) || 'UNK' ELSE s.tok END AS tok
      FROM (SELECT doc_id, i, t[i] AS tok
            FROM rest, unnest(generate_series(1, len(t))) AS u(i)) s
      LEFT JOIN vocab vv ON vv.tok = s.tok
    ),
    spair AS (
      SELECT a.doc_id, a.tok AS prev, b.tok AS tok
      FROM stoks a JOIN stoks b ON b.doc_id = a.doc_id AND b.i = a.i + 1
    )
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_bigrams,
           round(-avg(ln((coalesce(c, 0) + 1.0) / (coalesce(cc, 0) + v))), 4)
             AS cross_entropy
    FROM spair LEFT JOIN bg USING (prev, tok) LEFT JOIN ctx USING (prev), vs
    GROUP BY doc_id
    """,
)
def text_cross_entropy_filter_q(spark, sf_dir):
    """CCNet-style perplexity filtering
    (operators/textanalysis.py:cross_entropy_score): an add-one-smoothed
    bigram LM trains on a 30% md5-bucketed reference split and scores
    the OTHER 70% by per-token cross-entropy — the held-out train/score
    separation the self-corpus LM queries deliberately lack; OOV tokens
    map to UNK and unseen bigrams get smoothed mass.  The model is three
    reference-bounded broadcast dims; the scored token stream is
    touched once."""
    d = read_table(spark, sf_dir, "documents")
    b = (
        F.conv(F.substring(F.md5(F.concat(F.lit("ce-v1::"),
                                          F.col("doc_id").cast("string"))), 1, 8), 16, 10)
        .cast("bigint") % 10
    )
    dd = d.withColumn("_b", b)
    train = dd.filter(F.col("_b") < 3)
    rest = dd.filter(F.col("_b") >= 3)
    return textanalysis.cross_entropy_score(
        train, rest, "doc_id", "text"
    ).withColumnRenamed("id", "doc_id")


_MOJI_REPL = "\ufffd"
_MOJI_LATIN1 = "\u00c3"
_MOJI_WIN = "\u00e2\u20ac"
_MOJI_CORRUPT = {
    0: " caf\u00c3\u00a9 d\u00c3\u00a9j\u00c3\u00a0",
    1: " \u00e2\u20ac\u0153quoted\u00e2\u20ac\u201d dash",
    2: " bad\ufffdbyte\ufffd",
}


@q(
    "text_mojibake_score",
    f"""
    WITH corrupted AS (
      SELECT doc_id,
             text || (CASE WHEN b = 0 THEN '{_MOJI_CORRUPT[0]}'
                           WHEN b = 1 THEN '{_MOJI_CORRUPT[1]}'
                           WHEN b = 2 THEN '{_MOJI_CORRUPT[2]}'
                           ELSE '' END) AS text
      FROM (SELECT doc_id, text,
                   ('0x' || substr(md5('moji-v1|' || CAST(doc_id AS VARCHAR)),
                                   1, 8))::BIGINT % 8 AS b
            FROM documents)
    ),
    m AS (
      SELECT doc_id,
             CAST(length(text) AS BIGINT) AS n_chars,
             CAST(length(text) - length(replace(text, '{_MOJI_REPL}', ''))
                  AS BIGINT) AS n_replacement,
             CAST(length(text) - length(replace(text, '{_MOJI_LATIN1}', ''))
                  AS BIGINT) AS n_latin1_utf8,
             CAST((length(text) - length(replace(text, '{_MOJI_WIN}', ''))) // 2
                  AS BIGINT) AS n_win1252_utf8
      FROM corrupted
    )
    SELECT doc_id, n_chars, n_replacement, n_latin1_utf8, n_win1252_utf8,
           round(CASE WHEN n_chars > 0
                      THEN CAST(n_replacement + n_latin1_utf8 + n_win1252_utf8
                                AS DOUBLE) / n_chars
                      ELSE 0.0 END, 6) AS mojibake_score,
           (n_replacement + n_latin1_utf8 + n_win1252_utf8) > 0 AS is_damaged
    FROM m
    """,
)
def text_mojibake_score_q(spark, sf_dir):
    """Encoding-damage detection (the web-QA screen next to langid and
    the Gopher rules): per-doc counts of U+FFFD replacement characters,
    latin-1-decoded-UTF-8 markers (the stray 0xC3 lead byte as a
    codepoint), and windows-1252-decoded-UTF-8 digraphs, plus the
    per-char damage score - the classic mojibake signatures a crawl
    pipeline drops or re-decodes on.  One codegen expression pass
    (length/replace arithmetic, no regex, no UDF).  Deterministic
    md5-bucketed corruption is planted on 3/8 of the corpus so every
    counter fires; the oracle SQL interpolates the SAME string
    constants, and codepoint-counting semantics (Spark length ==
    DuckDB length) keep both engines integer-identical."""
    d = read_table(spark, sf_dir, "documents")
    b = (
        F.conv(F.substring(F.md5(F.concat_ws("|", F.lit("moji-v1"),
                                             F.col("doc_id").cast("string"))),
                           1, 8), 16, 10).cast("bigint") % 8
    )
    text = F.concat(
        F.col("text"),
        F.when(b == 0, F.lit(_MOJI_CORRUPT[0]))
        .when(b == 1, F.lit(_MOJI_CORRUPT[1]))
        .when(b == 2, F.lit(_MOJI_CORRUPT[2]))
        .otherwise(F.lit("")),
    )
    n_chars = F.length(text).cast("bigint")
    n_repl = (
        F.length(text) - F.length(F.replace(text, F.lit(_MOJI_REPL), F.lit("")))
    ).cast("bigint")
    n_lat = (
        F.length(text) - F.length(F.replace(text, F.lit(_MOJI_LATIN1), F.lit("")))
    ).cast("bigint")
    n_win = (
        (F.length(text) - F.length(F.replace(text, F.lit(_MOJI_WIN), F.lit("")))) / 2
    ).cast("bigint")
    total = n_repl + n_lat + n_win
    return d.select(
        "doc_id",
        n_chars.alias("n_chars"),
        n_repl.alias("n_replacement"),
        n_lat.alias("n_latin1_utf8"),
        n_win.alias("n_win1252_utf8"),
        F.round(
            F.when(n_chars > 0, total.cast("double") / n_chars)
            .otherwise(F.lit(0.0)), 6,
        ).alias("mojibake_score"),
        (total > 0).alias("is_damaged"),
    )
