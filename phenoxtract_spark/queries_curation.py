"""Oracle-checked queries for the corpus-curation operators: repetition
filters, PII scrubbing, deterministic splits, train/test decontamination.

These are the training-data hygiene passes a 100 TB pipeline runs between
raw ingest and tokenization.  Every query is deterministic (hash-based
splits, fixed scrub order, rounded fractions) so DuckDB compares
bit-identically.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from . import session
from .operators import curation
from .operators import dedup
from .queries_core import q, read_table
from .queries_scale import _NORM, _votes_sql

# ---------------------------------------------------------------------------
# repetition metrics
# ---------------------------------------------------------------------------

_GRAMS_SQL = f"""
  toks AS (SELECT doc_id, string_split({_NORM}, ' ') AS t FROM documents),
  grams AS (
    SELECT doc_id, n.n, array_to_string(list_slice(t, i, i + n.n - 1), ' ') AS gram
    FROM toks,
         (SELECT unnest([1, 2, 3]) AS n) n,
         unnest(generate_series(1, len(t))) AS u(i)
    WHERE i + n.n - 1 <= len(t)
  ),
  counts AS (SELECT doc_id, n, gram, count(*) AS cnt FROM grams GROUP BY 1, 2, 3)
"""


@q(
    "text_repetition",
    f"""
    WITH {_GRAMS_SQL},
    agg AS (
      SELECT doc_id,
             sum(cnt) FILTER (n = 1) AS n_tokens,
             max(cnt) FILTER (n = 1) AS top1,
             max(cnt) FILTER (n = 2) AS top2,
             sum(cnt) FILTER (n = 3 AND cnt > 1) AS dup3
      FROM counts GROUP BY 1
    )
    SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
           round(top1 / CAST(n_tokens AS DOUBLE), 6) AS top_word_frac,
           round(coalesce(top2, 0) * 2 / CAST(n_tokens AS DOUBLE), 6) AS top_2gram_frac,
           round(least(coalesce(dup3, 0) * 3 / CAST(n_tokens AS DOUBLE), 1.0), 6)
             AS dup_3gram_frac
    FROM agg
    """,
)
def text_repetition(spark, sf_dir):
    """Gopher-style repetition filters: most-frequent word/2-gram coverage
    and duplicated-3-gram coverage per document.  One shuffle on
    (doc, n, gram) with map-side combine; output is one row per doc."""
    d = read_table(spark, sf_dir, "documents")
    out = curation.repetition_stats(d, "doc_id", "text")
    return out.withColumn("n_tokens", F.col("n_tokens").cast("bigint"))


# ---------------------------------------------------------------------------
# PII scrubbing (deterministic synthetic PII injected in-query: the corpus
# itself is PII-free, so both engines append the same doc_id-derived
# email/IP/phone before scrubbing — exercising match+replace exactly)
# ---------------------------------------------------------------------------

_INJECT_SQL = (
    "text || ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com'"
    " || ' via 10.0.' || CAST(doc_id % 256 AS VARCHAR) || '.1'"
    " || ' or +1 555-01' || lpad(CAST(doc_id % 100 AS VARCHAR), 2, '0')"
)


@q(
    "text_pii_scrub",
    f"""
    WITH injected AS (SELECT doc_id, {_INJECT_SQL} AS text FROM documents)
    SELECT doc_id,
           len(regexp_extract_all(text, '{curation.PII_EMAIL}')) AS n_email,
           len(regexp_extract_all(text, '{curation.PII_IPV4}')) AS n_ip,
           len(regexp_extract_all(text, '{curation.PII_PHONE}')) AS n_phone,
           regexp_replace(
             regexp_replace(
               regexp_replace(text, '{curation.PII_EMAIL}', '[EMAIL]', 'g'),
               '{curation.PII_IPV4}', '[IP]', 'g'),
             '{curation.PII_PHONE}', '[PHONE]', 'g') AS scrubbed
    FROM injected
    """,
)
def text_pii(spark, sf_dir):
    """Email/IPv4/phone redaction with per-class match counts — a pure
    projection (regexp chains stay inside codegen; regex-heavy per row,
    so the narrow scan fans out)."""
    from .session import fan_out

    d = fan_out(read_table(spark, sf_dir, "documents"))
    injected = d.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" contact user"), F.col("doc_id").cast("string"),
            F.lit("@example.com via 10.0."),
            (F.col("doc_id") % 256).cast("string"),
            F.lit(".1 or +1 555-01"),
            F.lpad((F.col("doc_id") % 100).cast("string"), 2, "0"),
        ).alias("text"),
    )
    return curation.scrub_documents(injected, "doc_id", "text").select(
        "doc_id",
        F.col("n_email").cast("bigint").alias("n_email"),
        F.col("n_ip").cast("bigint").alias("n_ip"),
        F.col("n_phone").cast("bigint").alias("n_phone"),
        "scrubbed",
    )


# ---------------------------------------------------------------------------
# deterministic dataset split
# ---------------------------------------------------------------------------

_BUCKET_SQL = (
    "('0x' || substr(md5('split-v1::' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT"
    " % 10000"
)


@q(
    "curation_split",
    f"""
    SELECT doc_id, {_BUCKET_SQL} AS bucket,
           CASE WHEN {_BUCKET_SQL} < 8000 THEN 'train'
                WHEN {_BUCKET_SQL} < 9000 THEN 'val'
                ELSE 'test' END AS split
    FROM documents
    """,
)
def curation_split(spark, sf_dir):
    """Deterministic 80/10/10 split from an md5-prefix bucket — stable
    across engines, runs, and cluster layouts (``randomSplit`` is not)."""
    d = read_table(spark, sf_dir, "documents")
    return curation.dataset_split(d, "doc_id").select("doc_id", "bucket", "split")


# ---------------------------------------------------------------------------
# train/test decontamination
# ---------------------------------------------------------------------------


@q(
    "curation_decontaminate",
    f"""
    WITH split AS (
      SELECT doc_id, text,
             CASE WHEN {_BUCKET_SQL} < 8000 THEN 'train'
                  WHEN {_BUCKET_SQL} < 9000 THEN 'val'
                  ELSE 'test' END AS split
      FROM documents
    ),
    toks AS (SELECT doc_id, split, string_split({_NORM}, ' ') AS t FROM split),
    sh AS (
      SELECT doc_id, split, array_to_string(list_slice(t, i, i + 7), ' ') AS sh
      FROM toks, unnest(generate_series(1, greatest(len(t) - 7, 1))) AS u(i)
    ),
    te AS (SELECT DISTINCT doc_id AS test_id, sh FROM sh WHERE split = 'test'),
    tr AS (SELECT doc_id AS train_id, sh FROM sh WHERE split = 'train')
    SELECT train_id, count(DISTINCT tr.sh) AS n_shared_shingles,
           count(DISTINCT test_id) AS n_test_docs_hit
    FROM tr JOIN te ON tr.sh = te.sh
    GROUP BY 1
    """,
)
def curation_decontam(spark, sf_dir):
    """8-gram overlap between the hash-split train and test partitions;
    the DISTINCT test shingle set is broadcast (held-out sets are small by
    construction), so the train side joins map-side with no shuffle."""
    d = read_table(spark, sf_dir, "documents")
    s = curation.dataset_split(d, "doc_id")
    train = s.filter(F.col("split") == "train")
    test = s.filter(F.col("split") == "test")
    return curation.decontaminate(train, test, "doc_id", "text", k=8)


# ---------------------------------------------------------------------------
# data-quality constraint suite (single aggregation pass)
# ---------------------------------------------------------------------------


@q(
    "curation_substring_decontaminate",
    f"""
    WITH split AS (
      SELECT doc_id, text,
             CASE WHEN {_BUCKET_SQL} < 8000 THEN 'train'
                  WHEN {_BUCKET_SQL} < 9000 THEN 'val'
                  ELSE 'test' END AS split
      FROM documents
    ),
    tr AS (SELECT doc_id, text AS t FROM split WHERE split = 'train' AND length(text) >= 40),
    te AS (SELECT doc_id, text AS t FROM split WHERE split = 'test' AND length(text) >= 40),
    atr AS (SELECT doc_id AS id, unnest(range(0, length(t) - 39)) AS pos, t FROM tr),
    ate AS (SELECT doc_id AS id, unnest(range(0, length(t) - 39)) AS pos, t FROM te),
    htr AS (SELECT id, pos,
                   ('0x' || substr(md5(substr(t, CAST(pos AS INTEGER) + 1, 40)), 1, 15))::BIGINT AS h
            FROM atr),
    hte AS (SELECT id, pos,
                   ('0x' || substr(md5(substr(t, CAST(pos AS INTEGER) + 1, 40)), 1, 15))::BIGINT AS h
            FROM ate),
    m AS (SELECT x.id AS id_a, y.id AS id_b, x.pos AS pa, y.pos AS pb,
                 y.pos - x.pos AS diag
          FROM htr x JOIN hte y ON x.h = y.h),
    g AS (SELECT id_a, id_b, pa, diag,
                 pa - row_number() OVER (PARTITION BY id_a, id_b, diag ORDER BY pa) AS grp
          FROM m),
    sp AS (SELECT id_a, id_b, CAST(count(*) + 39 AS BIGINT) AS span_len
           FROM g GROUP BY id_a, id_b, diag, grp)
    SELECT id_a AS train_id,
           max(span_len) AS max_span_len,
           count(DISTINCT id_b) AS n_test_docs_hit,
           CAST(count(*) AS BIGINT) AS n_spans
    FROM sp GROUP BY 1
    """,
)
def curation_substring_decontam(spark, sf_dir):
    """EXACT-substring decontamination (the Lee et al. 2022 benchmark
    use): every >=40-char span a train document shares verbatim with a
    test document, reported per train doc (max span, test docs hit,
    span count).  Catches verbatim leakage the 8-gram shingle overlap of
    ``curation_decontaminate`` only approximates.  The test-side anchor
    relation broadcasts (held-out sets are small by construction); the
    only shuffle is the diagonal-islands merge."""
    d = read_table(spark, sf_dir, "documents")
    s = curation.dataset_split(d, "doc_id")
    spans = dedup.cross_duplicate_spans(
        s.filter(F.col("split") == "train"),
        s.filter(F.col("split") == "test"),
        "doc_id", "text", gram=40,
    )
    return spans.groupBy(F.col("id_a").alias("train_id")).agg(
        F.max("span_len").alias("max_span_len"),
        F.countDistinct("id_b").alias("n_test_docs_hit"),
        F.count(F.lit(1)).cast("bigint").alias("n_spans"),
    )


@q(
    "quality_table_diff",
    """
    WITH v2 AS (
      SELECT c_custkey + CASE WHEN b % 37 = 0 THEN 1000000 ELSE 0 END AS c_custkey,
             CASE WHEN b % 11 = 0 THEN 'renamed-' || CAST(c_custkey AS VARCHAR)
                  ELSE c_name END AS c_name,
             CASE WHEN b % 7 = 0 THEN round(c_acctbal + 100.0, 2)
                  ELSE c_acctbal END AS c_acctbal
      FROM (SELECT c_custkey, c_name, c_acctbal,
                   ('0x' || substr(md5('diff-v1|' || CAST(c_custkey AS VARCHAR)), 1, 8))::BIGINT
                       % 10000 AS b
            FROM customer)
    )
    SELECT coalesce(l.c_custkey, r.c_custkey) AS c_custkey,
           CASE WHEN r.c_custkey IS NULL THEN 'removed'
                WHEN l.c_custkey IS NULL THEN 'added'
                WHEN (l.c_name IS DISTINCT FROM r.c_name)
                     OR (l.c_acctbal IS DISTINCT FROM r.c_acctbal) THEN 'changed'
                ELSE 'unchanged' END AS status,
           CASE WHEN l.c_custkey IS NULL OR r.c_custkey IS NULL THEN 0
                ELSE CAST((l.c_name IS DISTINCT FROM r.c_name) AS INTEGER)
                     + CAST((l.c_acctbal IS DISTINCT FROM r.c_acctbal) AS INTEGER)
           END :: BIGINT AS n_changed_cols
    FROM customer l FULL OUTER JOIN v2 r ON l.c_custkey = r.c_custkey
    """,
)
def quality_table_diff(spark, sf_dir):
    """Snapshot reconciliation (operators/quality.py:table_diff): diff
    customer against a deterministically perturbed v2 (md5-bucketed
    renames, balance bumps, and re-keyed rows so added/removed/changed/
    unchanged all occur).  One full outer join; IS-DISTINCT-FROM
    semantics replayed verbatim by the oracle."""
    from .operators import quality

    c = read_table(spark, sf_dir, "customer")
    b = (
        F.conv(F.substring(F.md5(F.concat_ws("|", F.lit("diff-v1"),
                                             F.col("c_custkey").cast("string"))), 1, 8), 16, 10)
        .cast("bigint") % 10000
    )
    v2 = c.select(
        (F.col("c_custkey")
         + F.when(b % 37 == 0, F.lit(1000000)).otherwise(F.lit(0))).alias("c_custkey"),
        F.when(b % 11 == 0,
               F.concat(F.lit("renamed-"), F.col("c_custkey").cast("string")))
        .otherwise(F.col("c_name")).alias("c_name"),
        F.when(b % 7 == 0, F.round(F.col("c_acctbal") + 100.0, 2))
        .otherwise(F.col("c_acctbal")).alias("c_acctbal"),
    )
    return quality.table_diff(c, v2, ["c_custkey"], ["c_name", "c_acctbal"])


@q(
    "quality_constraints",
    """
    WITH m AS (
      SELECT count(*) FILTER (o_orderkey IS NULL) AS v_null,
             count(o_orderkey) - count(DISTINCT o_orderkey) AS v_uniq,
             count(*) FILTER (o_totalprice < 0) AS v_min,
             count(*) FILTER (o_orderstatus NOT IN ('O', 'F') AND o_orderstatus IS NOT NULL) AS v_set,
             count(*) FILTER (o_orderpriority IS NOT NULL
                              AND NOT regexp_matches(o_orderpriority, '^[1-5]-[A-Z ]+$')) AS v_re
      FROM orders
    )
    SELECT * FROM (
      SELECT 'o_orderkey' AS "column", 'not_null' AS "check", v_null AS n_violations, v_null = 0 AS passed FROM m
      UNION ALL SELECT 'o_orderkey', 'unique', v_uniq, v_uniq = 0 FROM m
      UNION ALL SELECT 'o_totalprice', 'min_ge', v_min, v_min = 0 FROM m
      UNION ALL SELECT 'o_orderstatus', 'in_set', v_set, v_set = 0 FROM m
      UNION ALL SELECT 'o_orderpriority', 'matches', v_re, v_re = 0 FROM m
    ) ORDER BY "column", "check"
    """,
)
def quality_constraints(spark, sf_dir):
    """Deequ-style declared contract over orders, evaluated in ONE
    aggregation job (conditional aggregates + unpivot).  The in_set check
    is deliberately missing status 'P' so a real violation count flows
    through the report."""
    from .operators.quality import Check, constraint_report

    o = read_table(spark, sf_dir, "orders")
    checks = [
        Check("o_orderkey", "not_null"),
        Check("o_orderkey", "unique"),
        Check("o_totalprice", "min_ge", 0),
        Check("o_orderstatus", "in_set", ("O", "F")),
        Check("o_orderpriority", "matches", r"^[1-5]-[A-Z ]+$"),
    ]
    return constraint_report(o, checks)


# ---------------------------------------------------------------------------
# deterministic stratified sampling
# ---------------------------------------------------------------------------


@q(
    "curation_stratified_sample",
    """
    SELECT doc_id, lang, rn FROM (
      SELECT doc_id, lang,
             row_number() OVER (
               PARTITION BY lang
               ORDER BY md5('sample-v1::' || CAST(doc_id AS VARCHAR)), doc_id
             ) AS rn
      FROM documents
    ) WHERE rn <= 20
    """,
)
def curation_stratified(spark, sf_dir):
    """Exact-count stratified sample: 20 docs per language, ranked by a
    seeded md5 of the id — deterministic across engines/runs/layouts, unlike
    ``sampleBy`` (Bernoulli: approximate counts, layout-sensitive).  One
    shuffle on the stratum key; rank truncation happens map-side per
    partition before the final window (Spark pushes the rn filter into a
    running-window top-k)."""
    from pyspark.sql.window import Window

    d = read_table(spark, sf_dir, "documents")
    key = F.md5(F.concat_ws("::", F.lit("sample-v1"), F.col("doc_id").cast("string")))
    w = Window.partitionBy("lang").orderBy(key, F.col("doc_id"))
    return (
        d.select("doc_id", "lang", F.row_number().over(w).cast("bigint").alias("rn"))
        .filter(F.col("rn") <= 20)
    )


# ---------------------------------------------------------------------------
# corpus vocabulary heavy hitters
# ---------------------------------------------------------------------------


@q(
    "text_vocab_topk",
    f"""
    WITH toks AS (
      SELECT unnest(list_filter(string_split({_NORM}, ' '), t -> t != '')) AS tok
      FROM documents
    )
    SELECT tok, count(*) AS freq FROM toks GROUP BY 1
    ORDER BY freq DESC, tok LIMIT 100
    """,
)
def text_vocab(spark, sf_dir):
    """Corpus-level token frequency top-100: explode → groupBy(token) with
    map-side combine → TakeOrdered (no global sort materialization).  The
    shuffle row count is |vocab| per partition, not |tokens|."""
    from .operators.textanalysis import tokens

    d = read_table(spark, sf_dir, "documents")
    return (
        d.select(F.explode(tokens("text")).alias("tok"))
        .groupBy("tok")
        .agg(F.count("*").alias("freq"))
        .orderBy(F.col("freq").desc(), "tok")
        .limit(100)
    )


# ---------------------------------------------------------------------------
# sequence packing
# ---------------------------------------------------------------------------

_PACK_BUCKET_SQL = (
    "('0x' || substr(md5('pack-v1::' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 64"
)


@q(
    "curation_pack_sequences",
    f"""
    WITH t AS (
      SELECT doc_id,
             CAST(len(list_filter(string_split({_NORM}, ' '), x -> x != '')) AS BIGINT)
               AS n_tokens,
             {_PACK_BUCKET_SQL} AS shard
      FROM documents
    ),
    c AS (
      SELECT doc_id, n_tokens, shard,
             coalesce(sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS prefix
      FROM t
    )
    SELECT doc_id AS id, n_tokens, shard,
           CAST(prefix // 2048 AS BIGINT) AS pack_id,
           CAST(prefix % 2048 AS BIGINT) AS pack_offset
    FROM c
    """,
)
def curation_pack_sequences(spark, sf_dir):
    """GPT-style concatenate-and-chunk packing into 2048-token context
    windows over 64 deterministic shards — the batch-assembly step between
    curation and tokenization.  One shuffle (shard) + one per-shard running
    sum; see curation.pack_sequences for the 100 TB sharding argument."""
    from .operators import textanalysis

    d = read_table(spark, sf_dir, "documents")
    return curation.pack_sequences(
        d, "doc_id", textanalysis.token_count("text"), context_len=2048, shards=64
    )


@q(
    "curation_line_dedup",
    """
    WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
    chunks AS (
      SELECT doc_id, i, array_to_string(list_slice(t, i*8+1, i*8+8), ' ') AS line
      FROM toks, unnest(generate_series(0, CAST(ceil(len(t)/8.0) AS BIGINT) - 1)) AS u(i)
    ),
    owners AS (
      SELECT md5(line) AS h, min(doc_id) AS owner, count(DISTINCT doc_id) AS ndocs
      FROM chunks GROUP BY 1
    ),
    tagged AS (
      SELECT c.doc_id, c.i, c.line, o.ndocs,
             (o.ndocs = 1 OR c.doc_id = o.owner) AS keep_
      FROM chunks c JOIN owners o ON md5(c.line) = o.h
    )
    SELECT doc_id, count(*) AS n_lines,
           CAST(sum(CASE WHEN ndocs > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_lines,
           CAST(sum(CASE WHEN keep_ THEN 0 ELSE 1 END) AS BIGINT) AS n_removed,
           coalesce(string_agg(CASE WHEN keep_ THEN line END, ' ' ORDER BY i), '')
             AS cleaned_text
    FROM tagged GROUP BY doc_id
    """,
)
def curation_line_dedup(spark, sf_dir):
    """Corpus-wide exact line dedup (RefinedWeb-style boilerplate strip):
    repeated lines survive only in their first-occurrence document; text
    re-assembles in original order.  The synthetic corpus has no newlines,
    so "lines" are non-overlapping 8-token chunks — real corpora pass
    ``F.split(text, '\\n')``.  See curation.line_dedup for the one-shuffle
    ownership geometry."""
    from .operators import curation

    d = read_table(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    n_chunks = F.ceil(F.size(toks) / F.lit(8.0)).cast("int")
    chunks = F.transform(
        F.sequence(F.lit(0), n_chunks - 1),
        lambda i: F.array_join(F.slice(toks, i * 8 + 1, 8), " "),
    )
    return curation.line_dedup(d, "doc_id", chunks, sep=" ").select(
        F.col("id").alias("doc_id"),
        "n_lines",
        "n_dup_lines",
        "n_removed",
        "cleaned_text",
    )


# ---------------------------------------------------------------------------
# n-gram diversity (type-token ratio)
# ---------------------------------------------------------------------------


@q(
    "text_ngram_diversity",
    f"""
    WITH toks AS (
      SELECT doc_id,
             list_filter(string_split({_NORM}, ' '), x -> x != '') AS t
      FROM documents
    )
    SELECT doc_id,
           len(t) AS n_tokens,
           CASE WHEN len(t) > 0
                THEN round(len(list_distinct(t)) / CAST(len(t) AS DOUBLE), 6)
           END AS ttr,
           CASE WHEN len(t) > 1
                THEN round(len(list_distinct(
                       list_transform(range(1, len(t)),
                                      i -> t[i] || ' ' || t[i + 1])))
                     / CAST(len(t) - 1 AS DOUBLE), 6)
           END AS bigram_ttr
    FROM toks
    """,
)
def text_ngram_diversity(spark, sf_dir):
    """Per-doc unigram/bigram type-token ratio — the diversity complement
    of the repetition filters.  Pure projection: zero shuffles."""
    from .operators import textanalysis

    d = read_table(spark, sf_dir, "documents")
    return textanalysis.ngram_diversity(d, "doc_id", "text")


# ---------------------------------------------------------------------------
# feature hashing
# ---------------------------------------------------------------------------


@q(
    "curation_quality_lr_train",
    f"""
    WITH m AS (
      SELECT doc_id,
             CAST(length(text) AS DOUBLE) AS n_chars,
             CAST(length(regexp_replace(lower(text), '[^a-z]', '', 'g')) AS DOUBLE) AS n_alpha,
             CAST(length(regexp_replace(text, '[^!-/:-@\\[-`{{-~]', '', 'g')) AS DOUBLE) AS n_punct,
             CAST(len(list_filter(string_split({_NORM}, ' '), t -> t != '')) AS DOUBLE) AS n_tok,
             CAST({_votes_sql('en')} AS DOUBLE) AS en_stop
      FROM documents
    ),
    q AS (
      SELECT doc_id,
             round(0.3 * least(n_chars / 500.0, 1.0)
                 + 0.3 * (CASE WHEN n_chars > 0 THEN n_alpha / n_chars ELSE 0.0 END)
                 + 0.2 * (CASE WHEN n_tok > 0
                               THEN least(en_stop / (n_tok * 0.1 + 1e-9), 1.0) ELSE 0.0 END)
                 + 0.2 * (CASE WHEN n_chars > 0
                               THEN 1.0 - least(n_punct / n_chars * 5, 1.0) ELSE 0.0 END), 6)
             AS quality
      FROM m
    ),
    labels AS (SELECT doc_id AS id,
                      CASE WHEN quality >= 0.55 THEN 1.0 ELSE 0.0 END AS y
               FROM q),
    toks AS (
      SELECT doc_id,
             unnest(list_filter(string_split({_NORM}, ' '), x -> x != '')) AS tok
      FROM documents
    ),
    c AS (
      SELECT doc_id,
             ('0x' || substr(md5('feat-v1::' || tok), 1, 8))::BIGINT % 16 AS bucket,
             count(*) AS cnt
      FROM toks GROUP BY 1, 2
    ),
    hf AS (SELECT doc_id AS id, bucket,
                  round(cnt / sqrt(sum(cnt * cnt) OVER (PARTITION BY doc_id)), 6) AS x
           FROM c),
    fl AS (SELECT id, bucket, x FROM hf
           UNION ALL
           SELECT doc_id, -1, 1.0 FROM documents),
    nn AS (SELECT count(*) AS n FROM documents),
    e1 AS (SELECT id, 0.5 - y AS err FROM labels),
    g1 AS (SELECT bucket,
                  CAST(sum(CAST(round(x * err, 9) AS DECIMAL(28,12))) AS DOUBLE) / n AS g
           FROM fl JOIN e1 USING (id), nn GROUP BY bucket, n),
    w1 AS (SELECT bucket, 0.0 - 1.0 * g AS w FROM g1),
    m2 AS (SELECT fl.id,
                  CAST(sum(CAST(round(w1.w * fl.x, 9) AS DECIMAL(28,12))) AS DOUBLE) AS margin
           FROM fl JOIN w1 USING (bucket) GROUP BY fl.id),
    e2 AS (SELECT m2.id, 1.0 / (1.0 + exp(-margin)) - l.y AS err
           FROM m2 JOIN labels l USING (id)),
    g2 AS (SELECT bucket,
                  CAST(sum(CAST(round(x * err, 9) AS DECIMAL(28,12))) AS DOUBLE) / n AS g
           FROM fl JOIN e2 USING (id), nn GROUP BY bucket, n),
    w2 AS (SELECT w1.bucket, w1.w - 1.0 * g2.g AS w FROM w1 JOIN g2 USING (bucket))
    SELECT bucket, round(w, 6) AS weight FROM w2
    """,
)
def curation_quality_lr_train(spark, sf_dir):
    """Trainable quality classifier: 2 full-batch logistic-regression GD
    iterations over 16 hashed features + bias, labels from the
    deterministic quality threshold — the oracle replays the whole
    training trajectory CTE by CTE (zero init makes iteration 1's
    predictions exactly 0.5)."""
    d = read_table(spark, sf_dir, "documents")
    return curation.train_quality_lr(
        d, "doc_id", "text", buckets=16, iterations=2, lr=1.0, threshold=0.55
    )


@q(
    "curation_span_corruption",
    f"""
    WITH base AS (
      SELECT doc_id AS id,
             list_filter(string_split({_NORM}, ' '), x -> x != '') AS t
      FROM documents
    ),
    toks AS (
      SELECT id, CAST(i - 1 AS BIGINT) AS pos, t[i] AS tok
      FROM base, unnest(generate_series(1, len(t))) AS u(i)
    ),
    m AS (
      SELECT id, pos, tok,
             ('0x' || substr(md5('t5-v1|' || CAST(id AS VARCHAR) || '|'
                                  || CAST(pos // 3 AS VARCHAR)), 1, 8))::BIGINT
                 % 1000 < 150 AS masked
      FROM toks
    ),
    st AS (
      SELECT *, masked AND NOT coalesce(
                 lag(masked) OVER (PARTITION BY id ORDER BY pos), false)
             AS span_start
      FROM m
    ),
    kk AS (
      SELECT *, sum(CASE WHEN span_start THEN 1 ELSE 0 END)
                  OVER (PARTITION BY id ORDER BY pos
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS k
      FROM st
    ),
    pieces AS (
      SELECT id, pos, masked, k,
             CASE WHEN NOT masked THEN tok
                  WHEN span_start THEN '<extra_id_' || CAST(k AS VARCHAR) || '>'
             END AS in_piece,
             CASE WHEN masked THEN
                  CASE WHEN span_start
                       THEN '<extra_id_' || CAST(k AS VARCHAR) || '> ' || tok
                       ELSE tok END
             END AS tgt_piece
      FROM kk
    )
    SELECT id,
           coalesce(string_agg(in_piece, ' ' ORDER BY pos), '') AS input_text,
           coalesce(string_agg(tgt_piece, ' ' ORDER BY pos), '') AS target_text,
           CAST(coalesce(max(k), 0) AS BIGINT) AS n_spans,
           CAST(sum(CASE WHEN masked THEN 1 ELSE 0 END) AS BIGINT) AS n_masked_tokens
    FROM pieces GROUP BY id
    """,
)
def curation_span_corruption(spark, sf_dir):
    """T5-style span-corruption example generation (deterministic
    blocks-merge-into-spans variant): sentinel-marked inputs +
    sentinel-prefixed targets in one relational plan, oracle-replayed
    token for token."""
    d = read_table(spark, sf_dir, "documents")
    return curation.span_corruption(d, "doc_id", "text")


@q(
    "curation_hashed_features",
    f"""
    WITH toks AS (
      SELECT doc_id,
             unnest(list_filter(string_split({_NORM}, ' '), x -> x != '')) AS tok
      FROM documents
    ),
    c AS (
      SELECT doc_id,
             ('0x' || substr(md5('feat-v1::' || tok), 1, 8))::BIGINT % 64 AS bucket,
             count(*) AS cnt
      FROM toks GROUP BY 1, 2
    )
    SELECT doc_id, bucket, cnt,
           round(cnt / sqrt(sum(cnt * cnt) OVER (PARTITION BY doc_id)), 6)
             AS l2_weight
    FROM c
    """,
)
def curation_hashed_features(spark, sf_dir):
    """Hashing-trick bag-of-words (64 buckets) with L2-normalized weights,
    in sparse long form.  One (doc, bucket) shuffle + one narrow per-doc
    window; hash is the engine-portable md5-prefix scheme."""
    d = read_table(spark, sf_dir, "documents")
    return curation.hashed_features(d, "doc_id", "text", buckets=64)


# ---------------------------------------------------------------------------
# cross-source duplication overlap
# ---------------------------------------------------------------------------


@q(
    "curation_cross_source_overlap",
    f"""
    WITH d AS (SELECT DISTINCT source, md5({_NORM}) AS dig FROM documents),
    s AS (SELECT DISTINCT source FROM documents),
    ov AS (
      SELECT a.source AS source_a, b.source AS source_b, count(*) AS n_shared
      FROM d a JOIN d b ON a.dig = b.dig AND a.source < b.source
      GROUP BY 1, 2
    )
    SELECT s1.source AS source_a, s2.source AS source_b,
           coalesce(ov.n_shared, 0) AS n_shared
    FROM s s1
    JOIN s s2 ON s1.source < s2.source
    LEFT JOIN ov ON ov.source_a = s1.source AND ov.source_b = s2.source
    """,
)
def curation_cross_source_overlap(spark, sf_dir):
    """Shared-digest matrix across corpus sources (every unordered pair,
    zeros included) — the double-counting report a weighted source mix
    needs.  Digest self-join bounded by cross-source duplicate groups."""
    d = read_table(spark, sf_dir, "documents")
    return curation.cross_source_overlap(d, "source", "text")


# ---------------------------------------------------------------------------
# BPE tokenizer training (merge discovery)
# ---------------------------------------------------------------------------


def _bpe_round_sql(r: int) -> str:
    """One BPE round: pair counts over s{r-1}, argmax merge m{r}, and the
    merged vocabulary s{r} via an exact left-to-right recursive scan."""
    return f"""
    p{r} AS (
      SELECT s[i] AS a, s[i + 1] AS b, CAST(sum(freq) AS BIGINT) AS cnt
      FROM s{r - 1}, unnest(range(1, len(s))) AS u(i) GROUP BY 1, 2
    ),
    m{r} AS (SELECT a, b, cnt FROM p{r} ORDER BY cnt DESC, a, b LIMIT 1),
    r{r} AS (
      SELECT w, freq, s AS rem, CAST([] AS VARCHAR[]) AS out FROM s{r - 1}
      UNION ALL
      SELECT r.w, r.freq,
        CASE WHEN len(rem) >= 2 AND rem[1] = m{r}.a AND rem[2] = m{r}.b
             THEN rem[3:] ELSE rem[2:] END,
        CASE WHEN len(rem) >= 2 AND rem[1] = m{r}.a AND rem[2] = m{r}.b
             THEN list_append(out, m{r}.a || m{r}.b)
             ELSE list_append(out, rem[1]) END
      FROM r{r} r, m{r} WHERE len(rem) > 0
    ),
    s{r} AS (SELECT w, freq, out AS s FROM r{r} WHERE len(rem) = 0)"""


@q(
    "text_bpe_merges",
    f"""
    WITH RECURSIVE
    wf AS (
      SELECT w, count(*) AS freq FROM (
        SELECT unnest(list_filter(string_split({_NORM}, ' '), x -> x != '')) AS w
        FROM documents
      ) GROUP BY 1
    ),
    s0 AS (
      SELECT w, freq, list_transform(range(1, len(w) + 1), i -> w[i]) AS s
      FROM wf
    ),
    {_bpe_round_sql(1)},
    {_bpe_round_sql(2)},
    {_bpe_round_sql(3)}
    SELECT 1 AS merge_round, a AS sym_a, b AS sym_b, cnt AS pair_count FROM m1
    UNION ALL SELECT 2, a, b, cnt FROM m2
    UNION ALL SELECT 3, a, b, cnt FROM m3
    """,
)
def text_bpe_merges(spark, sf_dir):
    """BPE tokenizer training, 3 merge rounds: each round's most frequent
    adjacent symbol pair (count desc, then lexicographic tie-break), merged
    corpus-wide before the next count.  All rounds run on the distinct-word
    vocabulary with frequencies — |vocab| rows, not |tokens| — with one
    1-row argmax collect per round; the oracle replays the identical
    trajectory with recursive-CTE merge scans."""
    from .operators import textanalysis

    d = read_table(spark, sf_dir, "documents")
    return textanalysis.bpe_merges(d, "text", rounds=3)


@q(
    "text_bpe_apply",
    f"""
    WITH wrapped AS (
      SELECT doc_id,
             replace(replace(replace(replace(replace(replace(regexp_replace(translate({_NORM}, '()', chr(1) || chr(2)), '([^ ])', '(\\1)', 'g'), '(t)(h)', '(th)'), '(th)(e)', '(the)'), '(i)(n)', '(in)'), '(a)(n)', '(an)'), '(e)(r)', '(er)'), '(er)(s)', '(ers)') AS s,
             length({_NORM}) AS n_chars
      FROM documents
    )
    SELECT doc_id AS id,
           CAST(length(s) - length(replace(s, '(', '')) AS BIGINT) AS n_tokens,
           CAST(n_chars AS BIGINT) AS n_chars
    FROM wrapped
    """,
)
def text_bpe_apply(spark, sf_dir):
    """BPE tokenizer APPLICATION (round 4 — the other half of
    ``text_bpe_merges``): apply a fixed 6-merge table and count resulting
    tokens per document, the op that costs a corpus in tokens for budget/
    packing decisions.  Wrapped-char encoding makes each merge one plain
    replace-all — boundary-safe, loop-free, zero-shuffle, and verified
    equal to a reference python BPE-apply on 2000 fuzz corpora
    (operators/textanalysis.py:bpe_apply_token_counts)."""
    from .operators import textanalysis

    d = read_table(spark, sf_dir, "documents")
    return textanalysis.bpe_apply_token_counts(
        d, "doc_id", "text",
        merges=[('t', 'h'), ('th', 'e'), ('i', 'n'), ('a', 'n'), ('e', 'r'), ('er', 's')],
    )


# ---------------------------------------------------------------------------
# HTML boilerplate stripping (deterministic synthetic markup injected
# in-query — the corpus is plain text, so both engines wrap each doc in the
# same doc_id-derived tags/entities before stripping, exercising the full
# tag-removal + entity-decode + whitespace-collapse chain exactly)
# ---------------------------------------------------------------------------

_HTML_INJECT_SQL = (
    "'<html><body><h1>Doc ' || CAST(doc_id AS VARCHAR) || '</h1><p class=\"x\">'"
    " || text || '</p><a href=\"http://ex.com/' || CAST(doc_id AS VARCHAR)"
    " || '\">link</a>&amp;&nbsp;&lt;end&gt;</body></html>'"
)


@q(
    "text_html_strip",
    f"""
    WITH h AS (SELECT doc_id, {_HTML_INJECT_SQL} AS html FROM documents),
    s AS (
      SELECT doc_id, html,
             trim(regexp_replace(
               replace(replace(replace(replace(replace(replace(
                 regexp_replace(html, '<[^>]+>', ' ', 'g'),
                 '&nbsp;', ' '), '&lt;', '<'), '&gt;', '>'),
                 '&quot;', '"'), '&#39;', ''''), '&amp;', '&'),
               '\\s+', ' ', 'g')) AS stripped
      FROM h
    )
    SELECT doc_id,
           len(regexp_extract_all(html, '<[^>]+>')) AS n_tags,
           stripped,
           round(length(stripped) / CAST(length(html) AS DOUBLE), 6) AS keep_ratio
    FROM s
    """,
)
def text_html_strip(spark, sf_dir):
    """C4/RefinedWeb-style HTML→text first pass: tag removal, entity
    decode (fixed order, &amp; last), whitespace collapse, plus the
    tag-count and keep-ratio boilerplate-density signals.  Pure regexp
    projection — zero shuffles."""
    d = read_table(spark, sf_dir, "documents")
    sid = F.col("doc_id").cast("string")
    html = F.concat(
        F.lit("<html><body><h1>Doc "), sid,
        F.lit('</h1><p class="x">'), F.col("text"),
        F.lit('</p><a href="http://ex.com/'), sid,
        F.lit('">link</a>&amp;&nbsp;&lt;end&gt;</body></html>'),
    )
    return curation.strip_html_documents(
        d.select("doc_id", html.alias("html")), "doc_id", "html"
    )


@q(
    "curation_pack_stats",
    f"""
    WITH t AS (
      SELECT doc_id,
             CAST(len(list_filter(string_split({_NORM}, ' '), x -> x != '')) AS BIGINT)
               AS n_tokens,
             {_PACK_BUCKET_SQL} AS shard
      FROM documents
    ),
    c AS (
      SELECT doc_id, n_tokens, shard,
             coalesce(sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS prefix
      FROM t
    )
    SELECT shard,
           count(*) AS n_docs,
           CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
           CAST((sum(n_tokens) + 2047) // 2048 AS BIGINT) AS n_packs,
           CAST(sum(CASE WHEN prefix % 2048 + n_tokens > 2048 THEN 1 ELSE 0 END)
             AS BIGINT) AS n_straddlers
    FROM c GROUP BY 1
    """,
)
def curation_pack_stats(spark, sf_dir):
    """Packing-quality report per shard: docs, tokens, context windows
    consumed (ceil(total/2048) — concatenate-and-chunk wastes nothing but
    the final partial window), and boundary-straddling docs (the ones a
    trainer truncates or splits).  One aggregate over the packing
    projection — same single shard shuffle as the packing itself."""
    from .operators import textanalysis

    d = read_table(spark, sf_dir, "documents")
    p = curation.pack_sequences(
        d, "doc_id", textanalysis.token_count("text"), context_len=2048, shards=64
    )
    return (
        p.groupBy("shard")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("total_tokens"),
            F.sum(
                ((F.col("pack_offset") + F.col("n_tokens")) > 2048).cast("bigint")
            ).alias("n_straddlers"),
        )
        .select(
            "shard", "n_docs", "total_tokens",
            F.expr("(total_tokens + 2047) div 2048").alias("n_packs"),
            "n_straddlers",
        )
    )


# ---------------------------------------------------------------------------
# token co-occurrence / PMI (distributional association mining)
# ---------------------------------------------------------------------------


@q(
    "text_cooccurrence_pmi",
    f"""
    WITH toks AS (
      SELECT doc_id,
             list_filter(string_split({_NORM}, ' '), x -> x != '') AS t
      FROM documents
    ),
    pairs AS (
      SELECT CASE WHEN t[i] < t[i + 1] THEN t[i] ELSE t[i + 1] END AS w1,
             CASE WHEN t[i] < t[i + 1] THEN t[i + 1] ELSE t[i] END AS w2
      FROM toks, unnest(range(1, len(t))) AS u(i)
      WHERE t[i] != t[i + 1]
    ),
    pc AS (SELECT w1, w2, count(*) AS n_pair FROM pairs GROUP BY 1, 2),
    uni AS (
      SELECT tok, count(*) AS n_tok FROM (
        SELECT unnest(t) AS tok FROM toks
      ) GROUP BY 1
    ),
    tot AS (SELECT CAST(sum(n_pair) AS DOUBLE) AS np FROM pc),
    tott AS (SELECT CAST(sum(n_tok) AS DOUBLE) AS nt FROM uni)
    SELECT p.w1, p.w2, p.n_pair,
           round(ln((p.n_pair / tot.np)
                    / ((u1.n_tok / tott.nt) * (u2.n_tok / tott.nt))), 6) AS pmi
    FROM pc p
    JOIN uni u1 ON u1.tok = p.w1
    JOIN uni u2 ON u2.tok = p.w2
    CROSS JOIN tot CROSS JOIN tott
    WHERE p.n_pair >= 5
    """,
)
def text_cooccurrence_pmi(spark, sf_dir):
    """Adjacent-token co-occurrence with pointwise mutual information —
    the distributional-association pass (collocations, phrase mining)
    over the corpus.  Pairs are canonically ordered (w1 < w2) so both
    directions merge; one (w1, w2) shuffle with map-side combine, the
    unigram dim and the two scalar totals broadcast back.  n_pair ≥ 5
    floor keeps the output the heavy-hitter set, not the n² tail."""
    from .operators.textanalysis import tokens

    d = read_table(spark, sf_dir, "documents")
    t = d.select(tokens("text").alias("t"))
    pairs = t.select(
        F.explode(
            F.expr(
                "filter(zip_with(slice(t, 1, greatest(size(t) - 1, 0)),"
                " slice(t, 2, greatest(size(t) - 1, 0)),"
                " (a, b) -> struct(least(a, b) AS w1, greatest(a, b) AS w2,"
                " a = b AS same)), p -> NOT p.same)"
            )
        ).alias("p")
    ).select(F.col("p.w1").alias("w1"), F.col("p.w2").alias("w2"))
    # the unfloored pair counts feed both the heavy-hitter set AND the
    # pre-floor total — materialize once
    pc_all = session.materialize(pairs.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("n_pair")))
    pc = pc_all.filter(F.col("n_pair") >= 5)
    uni = (
        t.select(F.explode("t").alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("n_tok"))
    )
    tot = pc_all.agg(F.sum("n_pair").cast("double").alias("np"))
    tott = uni.agg(F.sum("n_tok").cast("double").alias("nt"))
    u1 = uni.select(F.col("tok").alias("w1"), F.col("n_tok").alias("n1"))
    u2 = uni.select(F.col("tok").alias("w2"), F.col("n_tok").alias("n2"))
    return (
        pc.join(F.broadcast(u1), "w1")
        .join(F.broadcast(u2), "w2")
        .crossJoin(F.broadcast(tot))
        .crossJoin(F.broadcast(tott))
        .select(
            "w1", "w2", "n_pair",
            F.round(
                F.log(
                    (F.col("n_pair") / F.col("np"))
                    / ((F.col("n1") / F.col("nt")) * (F.col("n2") / F.col("nt")))
                ),
                6,
            ).alias("pmi"),
        )
    )


# ---------------------------------------------------------------------------
# inverted index (search posting lists)
# ---------------------------------------------------------------------------


@q(
    "text_inverted_index",
    f"""
    WITH toks AS (
      SELECT doc_id,
             unnest(list_filter(string_split({_NORM}, ' '), x -> x != '')) AS tok
      FROM documents
    ),
    tf AS (SELECT tok, doc_id, count(*) AS tf FROM toks GROUP BY 1, 2)
    SELECT tok,
           count(*) AS df,
           CAST(sum(tf) AS BIGINT) AS cf,
           string_agg(CAST(doc_id AS VARCHAR) || ':' || CAST(tf AS VARCHAR),
                      ',' ORDER BY doc_id) AS postings
    FROM tf GROUP BY tok
    HAVING count(*) >= 3
    """,
)
def text_inverted_index(spark, sf_dir):
    """Search-index construction: per token its document frequency,
    collection frequency, and the doc-ordered posting list (doc:tf pairs).
    Two shuffles — (tok, doc) tf combine, then the (tok) posting
    assembly — both with map-side partials; postings serialize doc-sorted
    so the output is layout-independent.  The df ≥ 3 floor drops the
    hapax tail (at 100 TB, posting lists shard by token range and the
    same plan emits one sorted run per shard)."""
    from .operators.textanalysis import tokens

    d = read_table(spark, sf_dir, "documents")
    tf = (
        d.select("doc_id", F.explode(tokens("text")).alias("tok"))
        .groupBy("tok", "doc_id")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    return (
        tf.groupBy("tok")
        .agg(
            F.count(F.lit(1)).alias("df"),
            F.sum("tf").alias("cf"),
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("doc_id", "tf"))
                    ),
                    lambda s: F.concat_ws(
                        ":", s["doc_id"].cast("string"), s["tf"].cast("string")
                    ),
                ),
                ",",
            ).alias("postings"),
        )
        .filter(F.col("df") >= 3)
    )


# ---------------------------------------------------------------------------
# deterministic data augmentation (word dropout)
# ---------------------------------------------------------------------------


@q(
    "curation_word_dropout",
    f"""
    WITH toks AS (
      SELECT doc_id,
             list_filter(string_split({_NORM}, ' '), x -> x != '') AS t
      FROM documents
    ),
    kept AS (
      SELECT doc_id, t,
             list_filter(t, (x, i) ->
               ('0x' || substr(md5('drop-v1::' || CAST(doc_id AS VARCHAR)
                                   || ':' || CAST(i AS VARCHAR)), 1, 8))::BIGINT
               % 10 != 0) AS k
      FROM toks
    )
    SELECT doc_id,
           array_to_string(k, ' ') AS text_aug,
           len(t) AS n_orig,
           len(k) AS n_kept
    FROM kept
    """,
)
def curation_word_dropout(spark, sf_dir):
    """Deterministic 10% word-dropout augmentation: token at 1-based
    position i survives iff md5(doc, i) keeps it — reproducible noise (no
    RNG state, layout-independent), so augmented corpora regenerate
    identically.  Pure indexed-lambda projection: zero shuffles."""
    from .operators.textanalysis import tokens

    d = read_table(spark, sf_dir, "documents")
    t = tokens("text")
    drop = (
        lambda x, i: F.pmod(
            F.conv(
                F.substring(
                    F.md5(
                        F.concat(
                            F.lit("drop-v1::"),
                            F.col("doc_id").cast("string"),
                            F.lit(":"),
                            (i + 1).cast("string"),
                        )
                    ),
                    1, 8,
                ),
                16, 10,
            ).cast("bigint"),
            F.lit(10),
        )
        != 0
    )
    out = d.select("doc_id", t.alias("t")).select(
        "doc_id", "t", F.filter("t", drop).alias("k")
    )
    return out.select(
        "doc_id",
        F.array_join("k", " ").alias("text_aug"),
        F.size("t").cast("bigint").alias("n_orig"),
        F.size("k").cast("bigint").alias("n_kept"),
    )


# ---------------------------------------------------------------------------
# per-source corpus scorecard
# ---------------------------------------------------------------------------


@q(
    "curation_source_scorecard",
    f"""
    WITH base AS (
      SELECT source, lang,
             md5({_NORM}) AS dig,
             len(list_filter(string_split({_NORM}, ' '), x -> x != '')) AS nt,
             CASE WHEN length({_NORM}) > 0
                  THEN round(CAST(length(regexp_replace({_NORM}, '[^a-z ]', '', 'g'))
                                  AS DOUBLE) / length({_NORM}), 6)
             END AS alpha
      FROM documents
    ),
    per AS (
      SELECT source, count(*) AS n_docs, count(DISTINCT dig) AS n_distinct,
             round(avg(nt), 2) AS avg_tokens, round(avg(alpha), 6) AS avg_alpha
      FROM base GROUP BY 1
    ),
    langs AS (SELECT source, lang, count(*) AS c FROM documents GROUP BY 1, 2),
    toplang AS (
      SELECT source, lang AS top_lang, c,
             row_number() OVER (PARTITION BY source ORDER BY c DESC, lang) AS rn
      FROM langs
    )
    SELECT p.source, p.n_docs, p.n_distinct,
           round(1 - p.n_distinct / CAST(p.n_docs AS DOUBLE), 6) AS dup_ratio,
           t.top_lang,
           round(t.c / CAST(p.n_docs AS DOUBLE), 6) AS lang_purity,
           p.avg_tokens, p.avg_alpha
    FROM per p JOIN (SELECT * FROM toplang WHERE rn = 1) t ON t.source = p.source
    """,
)
def curation_source_scorecard(spark, sf_dir):
    """Per-source corpus health scorecard: volume, exact-dup ratio,
    dominant language + purity, mean length and alphabetic ratio — the
    one-page report that drives source weighting decisions before
    training.  Two aggregates over the text scan (metrics + language
    histogram), both on the low-cardinality source key."""
    from pyspark.sql.window import Window

    from .operators.dedup import normalized_text

    d = read_table(spark, sf_dir, "documents")
    t = normalized_text(F.col("text"))
    base = d.select(
        "source", "lang",
        F.md5(t).alias("dig"),
        F.size(F.filter(F.split(t, " "), lambda x: x != "")).alias("nt"),
        F.when(
            F.length(t) > 0,
            F.round(
                F.length(F.regexp_replace(t, "[^a-z ]", "")).cast("double")
                / F.length(t),
                6,
            ),
        ).alias("alpha"),
    )
    per = base.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.countDistinct("dig").alias("n_distinct"),
        F.round(F.avg("nt"), 2).alias("avg_tokens"),
        F.round(F.avg("alpha"), 6).alias("avg_alpha"),
    )
    w = Window.partitionBy("source").orderBy(F.desc("c"), F.asc("lang"))
    top = (
        d.groupBy("source", "lang").agg(F.count(F.lit(1)).alias("c"))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("source", F.col("lang").alias("top_lang"), "c")
    )
    return per.join(F.broadcast(top), "source").select(
        "source", "n_docs", "n_distinct",
        F.round(1 - F.col("n_distinct") / F.col("n_docs").cast("double"), 6)
        .alias("dup_ratio"),
        "top_lang",
        F.round(F.col("c") / F.col("n_docs").cast("double"), 6).alias("lang_purity"),
        "avg_tokens", "avg_alpha",
    )


# ---------------------------------------------------------------------------
# curriculum phase assignment
# ---------------------------------------------------------------------------


@q(
    "curation_curriculum_phases",
    f"""
    WITH t AS (
      SELECT doc_id, lang,
             CAST(len(list_filter(string_split({_NORM}, ' '), x -> x != ''))
                  AS BIGINT) AS n_tokens
      FROM documents
    )
    SELECT doc_id, lang, n_tokens,
           CAST(ntile(3) OVER (PARTITION BY lang
                               ORDER BY n_tokens, doc_id) AS BIGINT) AS phase
    FROM t
    """,
)
def curation_curriculum_phases(spark, sf_dir):
    """Curriculum-learning phase assignment: per language, documents rank
    into 3 equal difficulty tiers by token count (short/simple first),
    deterministic (doc_id tie-break).  One window on the language
    partitioning; at 100 TB swap the exact ntile for histogram-quantile
    phase boundaries (broadcast thresholds, zero sort) — both layouts
    feed the same phased-sampling reader."""
    from pyspark.sql.window import Window

    from .operators.textanalysis import tokens

    d = read_table(spark, sf_dir, "documents")
    t = d.select("doc_id", "lang", F.size(tokens("text")).cast("bigint").alias("n_tokens"))
    w = Window.partitionBy("lang").orderBy("n_tokens", "doc_id")
    return t.withColumn("phase", F.ntile(3).over(w).cast("bigint"))


@q(
    "text_vocab_richness",
    f"""
    WITH toks AS (
      SELECT unnest(list_filter(string_split({_NORM}, ' '), x -> x != '')) AS tok
      FROM documents
    ),
    c AS (SELECT tok, count(*) AS n FROM toks GROUP BY 1)
    SELECT CAST(sum(n) AS BIGINT) AS n_tokens,
           count(*) AS vocab_size,
           CAST(count(*) FILTER (n = 1) AS BIGINT) AS n_hapax,
           round(count(*) FILTER (n = 1) / CAST(count(*) AS DOUBLE), 6)
             AS hapax_ratio,
           round(count(*) / CAST(sum(n) AS DOUBLE), 6) AS type_token_ratio
    FROM c
    """,
)
def text_vocab_richness(spark, sf_dir):
    """Corpus-level vocabulary richness: type-token ratio and hapax
    legomena share — the lexical-diversity fingerprint that shifts under
    templated/duplicated content and under aggressive dedup (compare
    before/after cleaning).  One (token) aggregate with map-side combine
    then a one-row rollup."""
    from .operators.textanalysis import tokens

    d = read_table(spark, sf_dir, "documents")
    c = (
        d.select(F.explode(tokens("text")).alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    return c.agg(
        F.sum("n").alias("n_tokens"),
        F.count(F.lit(1)).alias("vocab_size"),
        F.sum((F.col("n") == 1).cast("bigint")).alias("n_hapax"),
        F.round(
            F.sum((F.col("n") == 1).cast("int")) / F.count(F.lit(1)).cast("double"), 6
        ).alias("hapax_ratio"),
        F.round(F.count(F.lit(1)) / F.sum("n").cast("double"), 6).alias(
            "type_token_ratio"
        ),
    )


@q(
    "curation_weighted_reservoir",
    f"""
    WITH k AS (
      SELECT doc_id, n_chars,
             pow(
               (('0x' || substr(md5('wrs-v1::' || CAST(doc_id AS VARCHAR)), 1, 13))::BIGINT
                + 1) / 4503599627370497.0,
               1.0 / n_chars
             ) AS priority
      FROM documents WHERE n_chars > 0
    )
    SELECT doc_id, n_chars, round(priority, 10) AS priority
    FROM k ORDER BY round(priority, 10) DESC, doc_id LIMIT 50
    """,
)
def curation_weighted_reservoir(spark, sf_dir):
    """Weighted sampling WITHOUT replacement (Efraimidis–Spirakis A-Res):
    key = u^(1/w) with u a deterministic md5 uniform in (0, 1] and w the
    document weight (length here); the top-k keys ARE a weighted sample —
    reproducible across engines, runs, and partitionings, and mergeable
    (union partial top-ks, re-take top-k: the distributed reservoir).
    One projection + a top-k — no RNG state, no sequential reservoir."""
    d = read_table(spark, sf_dir, "documents")
    u = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit("wrs-v1::"), F.col("doc_id").cast("string"))),
                1, 13,
            ),
            16, 10,
        ).cast("bigint")
        + 1
    ) / F.lit(float((1 << 52) + 1))
    k = (
        d.filter(F.col("n_chars") > 0)
        .select(
            "doc_id", "n_chars",
            F.round(F.pow(u, 1.0 / F.col("n_chars")), 10).alias("priority"),
        )
    )
    return k.orderBy(F.desc("priority"), F.asc("doc_id")).limit(50)


# dense reshape of the hashed features: the documented one-pivot path from
# sparse long form to a fixed-width matrix (16 buckets here so the oracle
# stays readable; width is config)
_DENSE_COLS_SQL = ",\n           ".join(
    f"CAST(coalesce(sum(CASE WHEN bucket = {b} THEN cnt END), 0) AS BIGINT) AS f{b}"
    for b in range(16)
)


@q(
    "curation_feature_matrix",
    f"""
    WITH toks AS (
      SELECT doc_id,
             unnest(list_filter(string_split({_NORM}, ' '), x -> x != '')) AS tok
      FROM documents
    ),
    c AS (
      SELECT doc_id,
             ('0x' || substr(md5('feat-v1::' || tok), 1, 8))::BIGINT % 16 AS bucket,
             count(*) AS cnt
      FROM toks GROUP BY 1, 2
    )
    SELECT doc_id,
           {_DENSE_COLS_SQL}
    FROM c GROUP BY doc_id
    """,
)
def curation_feature_matrix(spark, sf_dir):
    """Dense fixed-width feature matrix from the hashing-trick long form:
    one pivot with EXPLICIT bucket values (no distinct-key discovery job —
    the width is config, so the plan is static) turns (doc, bucket, cnt)
    into a 16-column matrix ready for a trainer.  Same single (doc,
    bucket) shuffle as the sparse form; the pivot is a conditional
    aggregation, not a reshuffle."""
    d = read_table(spark, sf_dir, "documents")
    sparse = curation.hashed_features(d, "doc_id", "text", buckets=16).select(
        "doc_id", "bucket", "cnt"
    )
    wide = (
        sparse.groupBy("doc_id")
        .pivot("bucket", list(range(16)))
        .sum("cnt")
    )
    return wide.select(
        "doc_id",
        *[
            F.coalesce(F.col(str(b)), F.lit(0)).cast("bigint").alias(f"f{b}")
            for b in range(16)
        ],
    )


@q(
    "curation_contrastive_positives",
    f"""
    WITH toks AS (
      SELECT doc_id,
             list_filter(string_split({_NORM}, ' '), x -> x != '') AS t
      FROM documents
    ),
    chunks AS (
      SELECT doc_id, CAST(i AS BIGINT) AS chunk_idx,
             array_to_string(list_slice(t, i * 8 + 1, i * 8 + 8), ' ') AS chunk
      FROM toks, unnest(range(0, (len(t) + 7) // 8)) AS u(i)
    )
    SELECT a.doc_id, a.chunk_idx AS idx_a, a.chunk AS anchor,
           b.chunk AS positive
    FROM chunks a JOIN chunks b
      ON b.doc_id = a.doc_id AND b.chunk_idx = a.chunk_idx + 1
    """,
)
def curation_contrastive_positives(spark, sf_dir):
    """Self-supervised positive-pair construction: adjacent 8-token
    chunks of the same document form (anchor, positive) training pairs —
    the inverse-cloze / adjacent-span recipe contrastive text encoders
    train on (negatives come from `embedding_ring_negatives` /
    `embedding_hard_negatives`).  Chunking is a pure projection; the
    adjacency join is per-doc keyed and one-hop."""
    from .operators.textanalysis import tokens

    d = read_table(spark, sf_dir, "documents")
    tok_df = d.select("doc_id", tokens("text").alias("t"))
    chunks = tok_df.select(
        "doc_id",
        F.posexplode(
            F.expr(
                "case when size(t) = 0 then array()"
                " else transform(sequence(0, (size(t) + 7) div 8 - 1),"
                " i -> array_join(slice(t, i * 8 + 1, 8), ' ')) end"
            )
        ).alias("chunk_idx", "chunk"),
    ).withColumn("chunk_idx", F.col("chunk_idx").cast("bigint"))
    a = chunks.select(
        "doc_id", F.col("chunk_idx").alias("idx_a"), F.col("chunk").alias("anchor")
    )
    b = chunks.select(
        "doc_id", F.col("chunk_idx").alias("idx_b"), F.col("chunk").alias("positive")
    )
    out = a.join(b, (a["doc_id"] == b["doc_id"]) & (F.col("idx_b") == F.col("idx_a") + 1))
    return out.select(a["doc_id"], "idx_a", "anchor", "positive")


@q(
    "curation_dsir_select",
    f"""
    WITH toksd AS (
      SELECT doc_id, (doc_id % 7 = 0) AS is_tgt,
             list_filter(string_split({_NORM}, ' '), x -> x != '') AS t
      FROM documents
    ),
    pairsd AS (
      SELECT doc_id, is_tgt,
             ('0x' || substr(md5('dsir-v1::' || t[i] || '::' || t[i+1]), 1, 8))::BIGINT
               % 1024 AS bucket
      FROM toksd, unnest(generate_series(1, len(t) - 1)) AS u(i)
    ),
    feats AS (
      SELECT doc_id, is_tgt, bucket, count(*) AS cnt FROM pairsd GROUP BY 1, 2, 3
    ),
    dims AS (
      SELECT bucket,
             CAST(coalesce(sum(cnt) FILTER (is_tgt), 0) AS BIGINT) AS tc,
             CAST(coalesce(sum(cnt) FILTER (NOT is_tgt), 0) AS BIGINT) AS rc
      FROM feats GROUP BY 1
    ),
    tot AS (SELECT CAST(sum(tc) AS BIGINT) AS tt, CAST(sum(rc) AS BIGINT) AS rt
            FROM dims),
    scored AS (
      SELECT doc_id AS id, CAST(sum(cnt) AS BIGINT) AS n_bigrams,
             round(sum(cnt * (ln((tc + 0.5) / (tt + 512.0))
                              - ln((rc + 0.5) / (rt + 512.0)))), 4) AS logw
      FROM feats JOIN dims USING (bucket), tot
      WHERE NOT is_tgt GROUP BY doc_id
    ),
    topd AS (SELECT * FROM scored ORDER BY logw DESC, id LIMIT 100)
    SELECT id, n_bigrams, logw,
           CAST(row_number() OVER (ORDER BY logw DESC, id) AS BIGINT) AS rank
    FROM topd
    """,
)
def dsir_select_q(spark, sf_dir):
    """DSIR importance resampling (Xie et al. 2023): pool documents
    ranked by how target-domain-like their hashed-bigram distribution is
    (target = the doc_id%7 seed slice standing in for the curated
    in-domain corpus), top-100 kept.  Bucket-space dims broadcast; the
    top-k compiles to TakeOrderedAndProject; ranking uses the ROUNDED
    weight + id tiebreak so float summation order can't reorder engines.
    See operators/curation.py:dsir_select."""
    d = read_table(spark, sf_dir, "documents")
    return curation.dsir_select(
        d, "doc_id", "text",
        target_pred=(F.col("doc_id") % 7 == 0),
        k=100, buckets=1024, alpha=0.5,
    )


@q(
    "curation_gopher_rules",
    f"""
    WITH base AS (
      SELECT doc_id, text,
             list_filter(string_split({_NORM}, ' '), x -> x != '') AS t,
             string_split(text, chr(10)) AS ls
      FROM documents
    ),
    m AS (
      SELECT doc_id,
             CAST(len(t) AS BIGINT) AS n_words,
             CAST(coalesce(list_sum(list_transform(t, x -> length(x))), 0) AS BIGINT) AS sum_len,
             CAST(length(text) - length(replace(text, '#', '')) AS BIGINT) AS n_hash,
             (length(text) - length(replace(text, '...', ''))) / 3.0 AS n_ellip,
             CAST(len(ls) AS BIGINT) AS n_lines,
             CAST(len(list_filter(ls, l -> ltrim(l) LIKE '- %' OR ltrim(l) LIKE '* %'
                                            OR ltrim(l) LIKE '•%')) AS BIGINT) AS n_bullet,
             CAST(len(list_filter(ls, l -> rtrim(l) LIKE '%...' OR rtrim(l) LIKE '%…'))
                  AS BIGINT) AS n_ellip_line,
             CAST(len(list_filter(t, x -> regexp_matches(x, '[a-z]'))) AS BIGINT) AS n_alpha,
             CAST(len(list_distinct(list_intersect(t,
                  ['the', 'be', 'to', 'of', 'and', 'that', 'have', 'with'])))
                  AS BIGINT) AS stop_hits
      FROM base
    ),
    r AS (
      SELECT doc_id, n_words,
             CASE WHEN n_words > 0 THEN CAST(sum_len AS DOUBLE) / n_words END AS mean_len,
             CASE WHEN n_words > 0 THEN (n_hash + n_ellip) / n_words END AS symbol_ratio,
             CAST(n_bullet AS DOUBLE) / n_lines AS bullet_frac,
             CAST(n_ellip_line AS DOUBLE) / n_lines AS ellip_frac,
             CASE WHEN n_words > 0 THEN CAST(n_alpha AS DOUBLE) / n_words END AS alpha_frac,
             stop_hits
      FROM m
    ),
    f AS (
      SELECT *,
             CAST((CASE WHEN n_words >= 50 AND n_words <= 100000 THEN 0 ELSE 1 END)
                + (CASE WHEN mean_len >= 3.0 AND mean_len <= 10.0 THEN 0 ELSE 1 END)
                + (CASE WHEN symbol_ratio <= 0.1 THEN 0 ELSE 1 END)
                + (CASE WHEN bullet_frac <= 0.9 THEN 0 ELSE 1 END)
                + (CASE WHEN ellip_frac <= 0.3 THEN 0 ELSE 1 END)
                + (CASE WHEN alpha_frac > 0.8 THEN 0 ELSE 1 END)
                + (CASE WHEN stop_hits >= 2 THEN 0 ELSE 1 END) AS BIGINT)
               AS n_rules_failed
      FROM r
    )
    SELECT doc_id, n_words,
           round(mean_len, 4) AS mean_word_len,
           round(symbol_ratio, 4) AS symbol_ratio,
           round(bullet_frac, 4) AS bullet_frac,
           round(ellip_frac, 4) AS ellipsis_frac,
           round(alpha_frac, 4) AS alpha_word_frac,
           stop_hits, n_rules_failed,
           (n_rules_failed = 0) AS pass_gopher
    FROM f
    """,
)
def gopher_rules_q(spark, sf_dir):
    """The published Gopher quality-rule bundle (Rae et al. 2021, Table
    A1) over the documents table: seven rules, one narrow
    whole-stage-codegen scan, no shuffle.  Rule booleans evaluate on
    un-rounded rationals (identical doubles in both engines); reported
    ratios round to 4dp.  See operators/textanalysis.py:gopher_rules."""
    from .operators import textanalysis

    d = read_table(spark, sf_dir, "documents")
    return textanalysis.gopher_rules(d, "doc_id", "text")


@q(
    "curation_pareto_frontier",
    f"""
    WITH toks AS (
      SELECT doc_id, t.tok FROM (
        SELECT doc_id, unnest(string_split({_NORM}, ' ')) AS tok FROM documents
      ) t WHERE t.tok != ''
    ),
    m AS (
      SELECT doc_id,
             round(CAST(count(DISTINCT tok) AS DOUBLE) / count(*), 6) AS richness,
             CAST(count(*) AS BIGINT) AS n_tokens
      FROM toks GROUP BY doc_id
    )
    SELECT d.doc_id, d.richness, d.n_tokens
    FROM m d
    WHERE NOT EXISTS (
      SELECT 1 FROM m o
      WHERE (o.richness > d.richness AND o.n_tokens <= d.n_tokens)
         OR (o.richness = d.richness AND o.n_tokens < d.n_tokens)
    )
    """,
)
def curation_pareto_frontier_q(spark, sf_dir):
    """Pareto-optimal document selection: the exact skyline over
    (vocabulary richness ↑, token count ↓) — docs no other doc beats on
    both axes, i.e. the selection no scalarization weighting would ever
    skip (richness and length are strongly anti-correlated in the
    corpus, so the frontier is a real curve, not one point).  The Spark
    plan decomposes the global-order running-min into
    per-distinct-quality minima, a 256-row across-bucket recurrence, and
    a within-bucket window, so no stage ever sees a single-task global
    sort over the data; the oracle states dominance directly as
    NOT EXISTS, proving the decomposition exact
    (operators/curation.py:pareto_frontier_2d)."""
    from .operators import textanalysis

    d = read_table(spark, sf_dir, "documents")
    toks = textanalysis.tokens_long(d, "doc_id", "text")
    m = toks.groupBy(F.col("id").alias("doc_id")).agg(
        F.round(
            F.countDistinct("tok").cast("double") / F.count(F.lit(1)), 6
        ).alias("richness"),
        F.count(F.lit(1)).cast("bigint").alias("n_tokens"),
    )
    out = curation.pareto_frontier_2d(m, "doc_id", "richness", "n_tokens")
    # the operator compares in double; restore the cost column's integer
    # type (exact — the values are integral) so both engines render alike
    return out.withColumn("n_tokens", F.col("n_tokens").cast("bigint"))


@q(
    "quality_group_digest",
    """
    WITH r AS (
      SELECT c_nationkey,
             -- NULL cells render as the chr(0)-prefixed sentinel, exactly
             -- like the operator (concat_ws would silently SKIP them)
             ('0x' || substr(md5(
                 coalesce(CAST(c_custkey AS VARCHAR), chr(0) || 'NULL')
                 || chr(31)
                 || coalesce(c_name, chr(0) || 'NULL') || chr(31)
                 || coalesce(CAST(CAST(round(c_acctbal * 100, 0) AS BIGINT)
                                  AS VARCHAR), chr(0) || 'NULL')),
                             1, 15))::BIGINT AS h
      FROM customer
    )
    SELECT c_nationkey,
           bit_xor(h) AS digest,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum(h % 4294967296) AS BIGINT) AS sum32
    FROM r GROUP BY c_nationkey
    """,
)
def quality_group_digest_q(spark, sf_dir):
    """Anti-entropy table digest (operators/quality.py:group_digest):
    per-nation XOR-of-row-hashes + count + 32-bit hash sum over
    customer, with the acctbal rendered as integer CENTS so the row
    string is engine-unambiguous.  Two table copies agree iff these
    triples agree per group — no sort, no row shipping, one map-side-
    combinable groupBy; a mismatch localizes to the nation.  The oracle
    recomputes the same digest independently, which is itself the
    two-engine agreement the operator exists to check."""
    from .operators import quality

    c = read_table(spark, sf_dir, "customer")
    cents = F.round(F.col("c_acctbal") * 100, 0).cast("bigint")
    return quality.group_digest(
        c, "c_nationkey", [F.col("c_custkey"), F.col("c_name"), cents]
    )


@q(
    "curation_shrunk_source_quality",
    f"""
    WITH toks AS (
      SELECT doc_id, source, t.tok FROM (
        SELECT doc_id, source, unnest(string_split({_NORM}, ' ')) AS tok
        FROM documents
      ) t WHERE t.tok != ''
    ),
    m AS (
      SELECT doc_id, source,
             CAST(count(DISTINCT tok) AS DOUBLE) / count(*) AS richness
      FROM toks GROUP BY doc_id, source
    ),
    g AS (SELECT sum(richness) / count(*) AS gm FROM m)
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_rows,
           round(sum(richness) / count(*), 6) AS raw_mean,
           round((20.0 * gm + sum(richness)) / (20.0 + count(*)), 6)
             AS shrunk_mean
    FROM m, g GROUP BY source, gm
    """,
)
def curation_shrunk_source_quality_q(spark, sf_dir):
    """Per-source quality ranking with empirical-Bayes shrinkage
    (operators/curation.py:shrunk_group_means): each source's mean
    vocabulary richness is pulled toward the corpus mean with prior
    weight 20, so small sources can't top the ranking on luck — the
    correction a 100 TB curation recipe needs before weighting sources
    by measured quality.  One doc-level aggregate, one group aggregate,
    one broadcast 1-row global mean."""
    from .operators import textanalysis

    d = read_table(spark, sf_dir, "documents")
    toks = textanalysis.tokens_long(d, "doc_id", "text").join(
        d.select(F.col("doc_id").alias("id"), "source"), "id"
    )
    m = toks.groupBy("id", "source").agg(
        (F.countDistinct("tok").cast("double") / F.count(F.lit(1)))
        .alias("richness")
    )
    return curation.shrunk_group_means(m, "source", "richness", 20.0)


@q(
    "curation_lr_calibration",
    f"""
    WITH m AS (
      SELECT doc_id,
             CAST(length(text) AS DOUBLE) AS n_chars,
             CAST(length(regexp_replace(lower(text), '[^a-z]', '', 'g')) AS DOUBLE) AS n_alpha,
             CAST(length(regexp_replace(text, '[^!-/:-@\\[-`{{-~]', '', 'g')) AS DOUBLE) AS n_punct,
             CAST(len(list_filter(string_split({_NORM}, ' '), t -> t != '')) AS DOUBLE) AS n_tok,
             CAST({_votes_sql('en')} AS DOUBLE) AS en_stop
      FROM documents
    ),
    q AS (
      SELECT doc_id,
             round(0.3 * least(n_chars / 500.0, 1.0)
                 + 0.3 * (CASE WHEN n_chars > 0 THEN n_alpha / n_chars ELSE 0.0 END)
                 + 0.2 * (CASE WHEN n_tok > 0
                               THEN least(en_stop / (n_tok * 0.1 + 1e-9), 1.0) ELSE 0.0 END)
                 + 0.2 * (CASE WHEN n_chars > 0
                               THEN 1.0 - least(n_punct / n_chars * 5, 1.0) ELSE 0.0 END), 6)
             AS quality
      FROM m
    ),
    labels AS (SELECT doc_id AS id,
                      CASE WHEN quality >= 0.55 THEN 1.0 ELSE 0.0 END AS y
               FROM q),
    toks AS (
      SELECT doc_id,
             unnest(list_filter(string_split({_NORM}, ' '), x -> x != '')) AS tok
      FROM documents
    ),
    c AS (
      SELECT doc_id,
             ('0x' || substr(md5('feat-v1::' || tok), 1, 8))::BIGINT % 16 AS bucket,
             count(*) AS cnt
      FROM toks GROUP BY 1, 2
    ),
    hf AS (SELECT doc_id AS id, bucket,
                  round(cnt / sqrt(sum(cnt * cnt) OVER (PARTITION BY doc_id)), 6) AS x
           FROM c),
    fl AS (SELECT id, bucket, x FROM hf
           UNION ALL
           SELECT doc_id, -1, 1.0 FROM documents),
    nn AS (SELECT count(*) AS n FROM documents),
    e1 AS (SELECT id, 0.5 - y AS err FROM labels),
    g1 AS (SELECT bucket,
                  CAST(sum(CAST(round(x * err, 9) AS DECIMAL(28,12))) AS DOUBLE) / n AS g
           FROM fl JOIN e1 USING (id), nn GROUP BY bucket, n),
    w1 AS (SELECT bucket, 0.0 - 1.0 * g AS w FROM g1),
    m2 AS (SELECT fl.id,
                  CAST(sum(CAST(round(w1.w * fl.x, 9) AS DECIMAL(28,12))) AS DOUBLE) AS margin
           FROM fl JOIN w1 USING (bucket) GROUP BY fl.id),
    e2 AS (SELECT m2.id, 1.0 / (1.0 + exp(-margin)) - l.y AS err
           FROM m2 JOIN labels l USING (id)),
    g2 AS (SELECT bucket,
                  CAST(sum(CAST(round(x * err, 9) AS DECIMAL(28,12))) AS DOUBLE) / n AS g
           FROM fl JOIN e2 USING (id), nn GROUP BY bucket, n),
    wr AS (SELECT w1.bucket, round(w1.w - 1.0 * g2.g, 6) AS w
           FROM w1 JOIN g2 USING (bucket)),
    pm AS (SELECT fl.id,
                  CAST(sum(CAST(round(wr.w * fl.x, 9) AS DECIMAL(28,12))) AS DOUBLE) AS margin
           FROM fl JOIN wr USING (bucket) GROUP BY fl.id),
    scored AS (
      SELECT round(1.0 / (1.0 + exp(-margin)), 6) AS p, l.y
      FROM pm JOIN labels l USING (id)
    ),
    rng AS (SELECT min(p) AS lo, max(p) AS hi FROM scored),
    binned AS (
      SELECT CASE WHEN hi > lo
                  THEN least(CAST(floor((p - lo) / (hi - lo) * 10) AS BIGINT), 9)
                  ELSE 0 END AS bin, p, y
      FROM scored, rng
    )
    SELECT bin, CAST(count(*) AS BIGINT) AS n_docs,
           round(CAST(sum(CAST(p AS DECIMAL(28,12))) AS DOUBLE) / count(*), 4) AS mean_pred,
           round(avg(y), 4) AS frac_pos
    FROM binned GROUP BY bin
    """,
)
def curation_lr_calibration_q(spark, sf_dir):
    """Reliability curve of the trained quality classifier
    (operators/curation.py:lr_reliability_bins): predictions from the
    trainer's rounded returned weights bin into ten range-relative
    intervals with per-bin
    count, mean prediction, and observed positive rate (equal-width bins
    over the OBSERVED score range — absolute deciles would collapse the
    lightly-trained model's narrow band into one bin) — the calibration
    check that a filtering threshold means what it says.  The oracle
    replays the FULL training trajectory CTE by CTE and then the
    predict + binning on top, so a value match covers train → predict →
    calibrate end to end."""
    d = read_table(spark, sf_dir, "documents")
    return curation.lr_reliability_bins(d, "doc_id", "text")


@q(
    "curation_length_bucket_padding",
    f"""
    WITH d AS (
      SELECT doc_id,
             CAST(len(list_filter(string_split({_NORM}, ' '), t -> t != ''))
                  AS BIGINT) AS n
      FROM documents
    ),
    dd AS (SELECT * FROM d WHERE n > 0),
    b AS (
      SELECT CASE WHEN n = 1 THEN CAST(1 AS BIGINT)
                  ELSE CAST(power(2, length(printf('%b', n - 1))) AS BIGINT)
             END AS bucket_ceiling,
             n
      FROM dd
    ),
    per AS (
      SELECT TRUE AS bucketed, bucket_ceiling,
             CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(n) AS BIGINT) AS total_tokens,
             CAST(count(*) * bucket_ceiling AS BIGINT) AS padded_tokens
      FROM b GROUP BY bucket_ceiling
    ),
    base AS (
      SELECT FALSE AS bucketed, CAST(max(n) AS BIGINT) AS bucket_ceiling,
             CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(n) AS BIGINT) AS total_tokens,
             CAST(count(*) * max(n) AS BIGINT) AS padded_tokens
      FROM dd
    ),
    u AS (SELECT * FROM per UNION ALL SELECT * FROM base)
    SELECT bucketed, bucket_ceiling, n_docs, total_tokens, padded_tokens,
           round(1.0 - CAST(total_tokens AS DOUBLE) / padded_tokens, 6)
             AS waste_frac
    FROM u
    """,
)
def curation_length_bucket_padding_q(spark, sf_dir):
    """Length-bucketed batching efficiency
    (operators/curation.py:length_bucket_padding): per power-of-two
    token-length bucket, the padding waste of batching within the
    bucket, next to the single-bucket pad-to-global-max baseline
    (bucketed = FALSE row) — the measured argument for bucketed
    batching.  Bucket ceilings come from integer bit-length (no float
    log2 crosses engines); one ~log2(max_len)-key groupBy + one 1-row
    baseline aggregate."""
    from .operators import textanalysis

    d = read_table(spark, sf_dir, "documents")
    counts = textanalysis.tokens_long(d, "doc_id", "text").groupBy(
        F.col("id").alias("doc_id")
    ).agg(F.count(F.lit(1)).cast("bigint").alias("n_tokens"))
    return curation.length_bucket_padding(counts, "doc_id", "n_tokens")


_CE_BUCKET_SQL = (
    "('0x' || substr(md5('ce-v1::' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 10"
)

_WEB_E2E_URL_SQL = """
         (CASE WHEN b % 2 = 0 THEN 'http' ELSE 'HTTP' END)
         || '://'
         || (CASE WHEN (b // 2) % 2 = 0 THEN 'Site' ELSE 'www.site' END)
         || CAST(doc_id // 2 AS VARCHAR) || '.Example.com'
         || (CASE WHEN (b // 4) % 2 = 0 THEN '' ELSE ':80' END)
         || '/articles/page' || CAST(doc_id // 2 AS VARCHAR)
         || (CASE WHEN (b // 8) % 2 = 0 THEN '' ELSE '/' END)
         || (CASE WHEN b % 3 = 0 THEN '?b=2&a=1&utm_source=feed'
                  WHEN b % 3 = 1 THEN '?a=1&b=2'
                  ELSE '?b=2&a=1&ref=rss' END)
         || '#d' || CAST(doc_id AS VARCHAR)
"""


def _web_pipeline_stages(spark, sf_dir, gzip_members=False):
    """Shared stage builder for the composed web pipeline: returns the
    per-stage survivor relations (corpus, s1..s6, selected) so the e2e
    query and the attrition report audit the SAME plan (checkpoints
    included).  ``gzip_members`` switches the ingest stage to the real
    ``.warc.gz`` framing (one gzip member per record); every parsed
    field is identical by construction, so stage survivors must match
    the plain framing exactly — pinned by
    tests/test_warc.py::test_web_pipeline_gz_ingest_parity."""
    from .functions import urls
    from .operators import textanalysis
    from .sources import warc

    d = read_table(spark, sf_dir, "documents")
    ce_b = (
        F.conv(F.substring(F.md5(F.concat(F.lit("ce-v1::"),
                                          F.col("doc_id").cast("string"))),
                           1, 8), 16, 10).cast("bigint") % 10
    )
    sp_b = curation.split_bucket("doc_id", "split-v1")
    dd = d.select("doc_id", "text", "lang", ce_b.alias("_ce"), sp_b.alias("_sp"))
    ref = dd.filter(F.col("_ce") < 3).select("doc_id", "text")
    bench = dd.filter((F.col("_sp") >= 8000) & (F.length("text") >= 30)).select(
        "doc_id", "text"
    )
    corpus = dd.filter((F.col("_ce") >= 3) & (F.col("_sp") < 8000)).select(
        "doc_id", "text", "lang"
    )

    # stage 0: the crawl — messy fetch URLs through REAL WARC bytes,
    # then rehydrate the payload by id with an md5 integrity gate (the
    # join proves the roundtrip inside the query; a corrupted byte
    # drops the row and fails the count check)
    b = (
        F.conv(F.substring(F.md5(F.concat_ws("|", F.lit("url-v2"),
                                             F.col("doc_id").cast("string"))),
                           1, 8), 16, 10).cast("bigint") % 16
    )
    page = (F.col("doc_id") / 2).cast("bigint").cast("string")
    url = F.concat(
        F.when(b % 2 == 0, F.lit("http")).otherwise(F.lit("HTTP")),
        F.lit("://"),
        F.when((b / 2).cast("bigint") % 2 == 0, F.lit("Site"))
        .otherwise(F.lit("www.site")),
        page, F.lit(".Example.com"),
        F.when((b / 4).cast("bigint") % 2 == 0, F.lit("")).otherwise(F.lit(":80")),
        F.lit("/articles/page"), page,
        F.when((b / 8).cast("bigint") % 2 == 0, F.lit("")).otherwise(F.lit("/")),
        F.when(b % 3 == 0, F.lit("?b=2&a=1&utm_source=feed"))
        .when(b % 3 == 1, F.lit("?a=1&b=2"))
        .otherwise(F.lit("?b=2&a=1&ref=rss")),
        F.lit("#d"), F.col("doc_id").cast("string"),
    )
    # r13 (the r12 media-builder fan-out pattern, guide §2.5 input skew):
    # the sf1 documents file arrives in 2 scan splits, so BOTH consumers
    # of this relation — the WARC-synthesis groupBy's map side and the
    # rehydration join's md5 branch — decoded the corpus and computed
    # url/md5 on 2 serialized tasks (profiled: a 6.3 s 2-task job inside
    # the build).  Round-robin to cluster parallelism first; no-op at
    # real scale where inputs arrive with >= parallelism splits.
    from .session import fan_out

    fetched = fan_out(corpus.withColumn("url", url))
    segs = warc.synthetic_warc_segments(
        fetched, "doc_id", "text", docs_per_segment=16, uri_col="url",
        gzip_members=gzip_members,
    )
    rec = warc.parse_warc_segments(segs).select(
        F.regexp_extract("target_uri", r"#d(\d+)$", 1).cast("bigint").alias("doc_id"),
        "target_uri", "body_md5",
    )
    s0 = rec.join(
        fetched.select(
            F.col("doc_id").alias("_fid"), "text", "lang",
            F.md5(F.coalesce("text", F.lit(""))).alias("_tmd5"),
        ),
        (F.col("doc_id") == F.col("_fid")) & (F.col("body_md5") == F.col("_tmd5")),
    ).select("doc_id", "target_uri", "text", "lang")

    # stage 1: canonical-URL dedup — first fetch per canonical page
    canon = s0.withColumn("canon_url", urls.canonicalize_url(F.col("target_uri")))
    keep = canon.groupBy("canon_url").agg(F.min("doc_id").alias("doc_id"))
    s1 = canon.join(keep, ["canon_url", "doc_id"]).select("doc_id", "text", "lang")

    # stage 2: language ID — keep predicted-English.  Checkpointed: the
    # relation is consumed by the Gopher scorer AND the survivor join
    # (divergence below the dedup exchange), and everything above it —
    # the WARC codec pass in particular — must execute once, not once
    # per downstream consumer (the r6 checkpoint-placement rule).
    #
    # r13 (guide §2.6 — overlap independent jobs): the stage-4 LM dims
    # depend only on the REF slice, not on any pipeline stage, yet their
    # two eager checkpoint jobs used to run serialized AFTER this
    # checkpoint.  Submit them from a driver thread first, so the
    # reference tokenize/aggregate back-fills executors the WARC-codec
    # stage leaves idle (its Python-worker tail and shuffle barriers);
    # relations and results are identical — only the job schedule
    # overlaps.
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=1) as _pool:
        _lm_fut = _pool.submit(
            textanalysis.bigram_lm_dims, ref, "doc_id", "text"
        )
        s2 = session.materialize(s1.filter(textanalysis.detect_language("text") == "en"))
        lm = _lm_fut.result()

    # stage 3: Gopher rules, relaxed to <=1 failed rule
    gpass = (
        textanalysis.gopher_rules(s2, "doc_id", "text")
        .filter(F.col("n_rules_failed") <= 1)
        .select("doc_id")
    )
    s3 = s2.join(gpass, "doc_id").select("doc_id", "text")

    # stage 4: held-out perplexity filter (LM trained on the ref slice)
    ces = textanalysis.cross_entropy_score(ref, s3, "doc_id", "text",
                                           model=lm)
    # checkpointed: four downstream consumers (minhash signatures, both
    # sides of the Jaccard verify, the canonical join) diverge here
    s4 = session.materialize(
        s3.join(
            ces.filter(F.col("cross_entropy") <= 3.49).select(
                F.col("id").alias("doc_id")
            ),
            "doc_id",
        )
    )

    # stage 5: MinHash-LSH near-dup dedup (keep the min id of each pair)
    sg = dedup.minhash_signature(s4, "doc_id", "text", num_hashes=4, k=3)
    cand = dedup.lsh_candidate_pairs(dedup.lsh_bands(sg, rows_per_band=2))
    ver = dedup.ngram_jaccard_pairs(
        s4, "doc_id", "text", k=3, threshold=0.3, candidates=cand
    ).select("id_a", "id_b")
    partners = ver.unionByName(
        ver.select(F.col("id_b").alias("id_a"), F.col("id_a").alias("id_b"))
    ).select(F.col("id_a").alias("doc_id"), F.col("id_b").alias("partner"))
    canon5 = (
        s4.select("doc_id")
        .join(partners, "doc_id", "left")
        .groupBy("doc_id")
        .agg(F.least(F.col("doc_id"),
                     F.coalesce(F.min("partner"), F.col("doc_id")))
             .alias("canonical_id"))
    )
    # checkpointed: the decontamination anchors and the survivor join
    # both consume s5, and recomputing it means re-running the LSH
    # verify self-join
    s5 = session.materialize(
        s4.join(
            canon5.filter(F.col("canonical_id") == F.col("doc_id")).select("doc_id"),
            "doc_id",
        )
    )

    # stage 6: exact-substring decontamination vs the benchmark split
    hits = (
        dedup.cross_duplicate_spans(s5, bench, "doc_id", "text", gram=30)
        .select(F.col("id_a").alias("doc_id"))
        .distinct()
    )
    s6 = s5.join(hits, "doc_id", "left_anti")

    # stage 7: token-budget selection
    selected = curation.token_budget_select(
        s6, "doc_id",
        quality=textanalysis.quality_score("text"),
        n_tokens=textanalysis.token_count("text"),
        budget_per_shard=1500, shards=4,
    )
    return corpus, s1, s2, s3, s4, s5, s6, selected


# The eight-stage CTE chain shared by the e2e query and its attrition-
# report twin — a named constant both interpolate, so the two oracles
# can never diverge (and no string-slicing of registered SQL).
_WEB_STAGES_CTE = f"""
    WITH split AS (
      SELECT doc_id, text, lang,
             {_CE_BUCKET_SQL} AS ce_b,
             {_BUCKET_SQL} AS sp_b
      FROM documents
    ),
    ref AS (SELECT doc_id, text FROM split WHERE ce_b < 3),
    bench AS (SELECT doc_id, text FROM split
              WHERE sp_b >= 8000 AND length(text) >= 30),
    corpus AS (SELECT doc_id, text, lang FROM split
               WHERE ce_b >= 3 AND sp_b < 8000),
    fetched AS (
      SELECT doc_id, text, lang, {_WEB_E2E_URL_SQL} AS url
      FROM (SELECT doc_id, text, lang,
                   ('0x' || substr(md5('url-v2|' || CAST(doc_id AS VARCHAR)),
                                   1, 8))::BIGINT % 16 AS b
            FROM corpus)
    ),
    a1 AS (
      SELECT doc_id, text, lang,
             lower(regexp_extract(url, '^\\s*([A-Za-z][A-Za-z0-9+.-]*)://', 1))
               AS scheme,
             regexp_replace(
               regexp_extract(url, '^\\s*[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)', 1),
               '^[^@]*@', '') AS hostport,
             regexp_extract(url,
               '^\\s*[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^#]*)', 1) AS pathq
      FROM fetched
    ),
    a2 AS (
      SELECT doc_id, text, lang, scheme,
             regexp_replace(lower(regexp_extract(hostport, '^([^:]*)', 1)),
                            '^www\\.', '') AS host,
             regexp_extract(hostport, ':([0-9]+)$', 1) AS port,
             regexp_extract(pathq, '^([^?]*)', 1) AS path,
             regexp_extract(pathq, '\\?(.*)$', 1) AS query
      FROM a1
    ),
    canon AS (
      SELECT doc_id, text, lang,
             scheme || '://' || host
             || (CASE WHEN port = '' OR (scheme = 'http' AND port = '80')
                        OR (scheme = 'https' AND port = '443')
                      THEN '' ELSE ':' || port END)
             || (CASE WHEN regexp_replace(path, '/+$', '') = ''
                      THEN '/' ELSE regexp_replace(path, '/+$', '') END)
             || (CASE WHEN q = '' THEN '' ELSE '?' || q END) AS canon_url
      FROM (
        SELECT *, array_to_string(list_sort(list_filter(
                 string_split(query, '&'),
                 s -> s != '' AND NOT regexp_matches(
                   s, '^(utm_[^=]*|gclid|fbclid|msclkid|ref)(=.*)?$')
               )), '&') AS q
        FROM a2
      )
    ),
    s1 AS (
      SELECT c.doc_id, c.text, c.lang
      FROM canon c
      JOIN (SELECT canon_url, min(doc_id) AS doc_id FROM canon GROUP BY 1) k
        ON c.canon_url = k.canon_url AND c.doc_id = k.doc_id
    ),
    v AS (
      SELECT doc_id, text, lang,
             {_votes_sql('de')} AS v_de, {_votes_sql('en')} AS v_en,
             {_votes_sql('es')} AS v_es, {_votes_sql('fr')} AS v_fr,
             {_votes_sql('it')} AS v_it
      FROM s1
    ),
    s2 AS (
      SELECT doc_id, text, lang FROM v
      WHERE greatest(v_de, v_en, v_es, v_fr, v_it) > 0
        AND v_de != greatest(v_de, v_en, v_es, v_fr, v_it)
        AND v_en = greatest(v_de, v_en, v_es, v_fr, v_it)
    ),
    gbase AS (
      SELECT doc_id, text,
             list_filter(string_split({_NORM}, ' '), x -> x != '') AS t,
             string_split(text, chr(10)) AS ls
      FROM s2
    ),
    gm AS (
      SELECT doc_id,
             CAST(len(t) AS BIGINT) AS n_words,
             CAST(coalesce(list_sum(list_transform(t, x -> length(x))), 0)
                  AS BIGINT) AS sum_len,
             CAST(length(text) - length(replace(text, '#', '')) AS BIGINT)
               AS n_hash,
             (length(text) - length(replace(text, '...', ''))) / 3.0 AS n_ellip,
             CAST(len(ls) AS BIGINT) AS n_lines,
             CAST(len(list_filter(ls, l -> ltrim(l) LIKE '- %'
                                            OR ltrim(l) LIKE '* %'
                                            OR ltrim(l) LIKE '•%')) AS BIGINT)
               AS n_bullet,
             CAST(len(list_filter(ls, l -> rtrim(l) LIKE '%...'
                                            OR rtrim(l) LIKE '%…')) AS BIGINT)
               AS n_ellip_line,
             CAST(len(list_filter(t, x -> regexp_matches(x, '[a-z]')))
                  AS BIGINT) AS n_alpha,
             CAST(len(list_distinct(list_intersect(t,
                  ['the', 'be', 'to', 'of', 'and', 'that', 'have', 'with'])))
                  AS BIGINT) AS stop_hits
      FROM gbase
    ),
    gr AS (
      SELECT doc_id, n_words,
             CASE WHEN n_words > 0 THEN CAST(sum_len AS DOUBLE) / n_words END
               AS mean_len,
             CASE WHEN n_words > 0 THEN (n_hash + n_ellip) / n_words END
               AS symbol_ratio,
             CAST(n_bullet AS DOUBLE) / n_lines AS bullet_frac,
             CAST(n_ellip_line AS DOUBLE) / n_lines AS ellip_frac,
             CASE WHEN n_words > 0 THEN CAST(n_alpha AS DOUBLE) / n_words END
               AS alpha_frac,
             stop_hits
      FROM gm
    ),
    gf AS (
      SELECT doc_id,
             CAST((CASE WHEN n_words >= 50 AND n_words <= 100000 THEN 0 ELSE 1 END)
                + (CASE WHEN mean_len >= 3.0 AND mean_len <= 10.0 THEN 0 ELSE 1 END)
                + (CASE WHEN symbol_ratio <= 0.1 THEN 0 ELSE 1 END)
                + (CASE WHEN bullet_frac <= 0.9 THEN 0 ELSE 1 END)
                + (CASE WHEN ellip_frac <= 0.3 THEN 0 ELSE 1 END)
                + (CASE WHEN alpha_frac > 0.8 THEN 0 ELSE 1 END)
                + (CASE WHEN stop_hits >= 2 THEN 0 ELSE 1 END) AS BIGINT)
               AS n_rules_failed
      FROM gr
    ),
    s3 AS (
      SELECT s2.doc_id, s2.text FROM s2
      JOIN gf ON gf.doc_id = s2.doc_id AND gf.n_rules_failed <= 1
    ),
    rtoks AS (
      SELECT doc_id,
             list_filter(string_split({_NORM}, ' '), t -> t != '') AS t
      FROM ref
    ),
    tpair AS (
      SELECT t[i] AS prev, t[i + 1] AS tok
      FROM rtoks, unnest(generate_series(1, len(t) - 1)) AS u(i)
    ),
    bg AS (SELECT prev, tok, CAST(count(*) AS DOUBLE) AS c
           FROM tpair GROUP BY prev, tok),
    ctx AS (SELECT prev, sum(c) AS cc FROM bg GROUP BY prev),
    vocab AS (
      SELECT DISTINCT t[i] AS tok
      FROM rtoks, unnest(generate_series(1, len(t))) AS u(i)
    ),
    vs AS (SELECT count(*) + 1.0 AS v FROM vocab),
    s3toks AS (
      SELECT doc_id,
             list_filter(string_split({_NORM}, ' '), t -> t != '') AS t
      FROM s3
    ),
    stoks AS (
      SELECT s.doc_id, s.i,
             CASE WHEN vv.tok IS NULL THEN chr(1) || 'UNK' ELSE s.tok END AS tok
      FROM (SELECT doc_id, i, t[i] AS tok
            FROM s3toks, unnest(generate_series(1, len(t))) AS u(i)) s
      LEFT JOIN vocab vv ON vv.tok = s.tok
    ),
    spair AS (
      SELECT a.doc_id, a.tok AS prev, b.tok AS tok
      FROM stoks a JOIN stoks b ON b.doc_id = a.doc_id AND b.i = a.i + 1
    ),
    ces AS (
      SELECT doc_id,
             round(-avg(ln((coalesce(c, 0) + 1.0) / (coalesce(cc, 0) + v))), 4)
               AS cross_entropy
      FROM spair LEFT JOIN bg USING (prev, tok) LEFT JOIN ctx USING (prev), vs
      GROUP BY doc_id
    ),
    s4 AS (
      SELECT s3.doc_id, s3.text FROM s3
      JOIN ces ON ces.doc_id = s3.doc_id AND ces.cross_entropy <= 3.49
    ),
    ltoks AS (SELECT doc_id, string_split({_NORM}, ' ') AS t FROM s4),
    lsh AS (
      SELECT doc_id, array_to_string(list_slice(t, i, i + 2), ' ') AS sh
      FROM ltoks, unnest(generate_series(1, greatest(len(t) - 2, 1))) AS u(i)
    ),
    seeded AS (
      SELECT doc_id, s.seed, md5(CAST(s.seed AS VARCHAR) || '|' || sh) AS h
      FROM lsh, (SELECT unnest(generate_series(0, 3)) AS seed) s
    ),
    sig AS (SELECT doc_id AS id, seed, min(h) AS minhash FROM seeded GROUP BY 1, 2),
    bands AS (
      SELECT id, seed // 2 AS band,
             md5(array_to_string(list_sort(
               list(CAST(seed AS VARCHAR) || ':' || minhash)), '|')) AS band_key
      FROM sig GROUP BY id, seed // 2
    ),
    cand AS (
      SELECT DISTINCT a.id AS id_a, b.id AS id_b
      FROM bands a JOIN bands b
        ON a.band = b.band AND a.band_key = b.band_key AND a.id < b.id
    ),
    dsh AS (SELECT DISTINCT doc_id, sh FROM lsh),
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
    ),
    canonical AS (
      SELECT d.doc_id,
             least(d.doc_id, coalesce(min(p.partner), d.doc_id)) AS canonical_id
      FROM s4 d LEFT JOIN partners p USING (doc_id)
      GROUP BY d.doc_id
    ),
    s5 AS (
      SELECT s4.doc_id, s4.text FROM s4
      JOIN canonical k ON k.doc_id = s4.doc_id AND k.canonical_id = s4.doc_id
    ),
    atr AS (SELECT doc_id AS id, unnest(range(0, length(text) - 29)) AS pos,
                   text AS t
            FROM s5 WHERE length(text) >= 30),
    ate AS (SELECT doc_id AS id, unnest(range(0, length(text) - 29)) AS pos,
                   text AS t
            FROM bench),
    htr AS (SELECT id, pos,
                   ('0x' || substr(md5(substr(t, CAST(pos AS INTEGER) + 1, 30)),
                                   1, 15))::BIGINT AS h
            FROM atr),
    hte AS (SELECT id, pos,
                   ('0x' || substr(md5(substr(t, CAST(pos AS INTEGER) + 1, 30)),
                                   1, 15))::BIGINT AS h
            FROM ate),
    contaminated AS (SELECT DISTINCT x.id AS doc_id
                     FROM htr x JOIN hte y ON x.h = y.h),
    s6 AS (
      SELECT s5.doc_id, s5.text FROM s5
      WHERE NOT EXISTS (SELECT 1 FROM contaminated c WHERE c.doc_id = s5.doc_id)
    ),
    qm AS (
      SELECT doc_id,
             CAST(length(text) AS DOUBLE) AS n_chars,
             CAST(length(regexp_replace(lower(text), '[^a-z]', '', 'g'))
                  AS DOUBLE) AS n_alpha,
             CAST(length(regexp_replace(text, '[^!-/:-@\\[-`{{-~]', '', 'g'))
                  AS DOUBLE) AS n_punct,
             CAST(len(list_filter(string_split({_NORM}, ' '), t -> t != ''))
                  AS DOUBLE) AS n_tok,
             CAST({_votes_sql('en')} AS DOUBLE) AS en_stop
      FROM s6
    ),
    scored AS (
      SELECT doc_id AS id,
             ('0x' || substr(md5('budget-v1::' || CAST(doc_id AS VARCHAR)),
                             1, 8))::BIGINT % 4 AS shard,
             CAST(n_tok AS BIGINT) AS n_tokens,
             round(0.3 * least(n_chars / 500.0, 1.0)
                 + 0.3 * (CASE WHEN n_chars > 0 THEN n_alpha / n_chars
                               ELSE 0.0 END)
                 + 0.2 * (CASE WHEN n_tok > 0
                               THEN least(en_stop / (n_tok * 0.1 + 1e-9), 1.0)
                               ELSE 0.0 END)
                 + 0.2 * (CASE WHEN n_chars > 0
                               THEN 1.0 - least(n_punct / n_chars * 5, 1.0)
                               ELSE 0.0 END), 6) AS quality
      FROM qm
    ),
    cum AS (
      SELECT id, shard, n_tokens, quality,
             CAST(sum(n_tokens) OVER (PARTITION BY shard
                                      ORDER BY quality DESC, id
                                      ROWS BETWEEN UNBOUNDED PRECEDING
                                      AND CURRENT ROW) AS BIGINT) AS cum_tokens
      FROM scored
    )"""


@q(
    "curation_web_pipeline_e2e",
    _WEB_STAGES_CTE + """
    SELECT id, shard, n_tokens, quality, cum_tokens
    FROM cum WHERE cum_tokens <= 1500
    """,
)
def curation_web_pipeline_e2e_q(spark, sf_dir):
    """The composed FineWeb/CCNet-style web-curation pipeline as ONE
    Catalyst plan (r6 verdict #5) — every stage is an already-green
    registered operator, chained at realistic shape:

      WARC ingest (real bytes: encode -> strict parse -> rehydrate by
      id + body-md5 integrity gate) -> URL canonicalization dedup
      (first fetch per canonical page; 16 messy surface variants, 2
      fetches per page) -> language ID (keep predicted-English) ->
      Gopher rules (<=1 failed; the synthetic corpus universally fails
      the stopword rule) -> CCNet held-out perplexity filter (add-one
      bigram LM on the 30% ce-v1 reference slice; keep cross-entropy
      <= 3.49) -> MinHash-LSH near-dup dedup (4 hashes, 2-row bands,
      Jaccard >= 0.3 verify, keep min id) -> exact-substring benchmark
      decontamination (30-gram anchors vs the val+test split) ->
      token-budget selection (4 shards x 1500 tokens, greedy by
      quality).

    Every stage removes rows at every test scale (sf0.01: 263 corpus
    -> 199 -> 149 -> 100 -> 88 -> 86 -> 85 -> 72 selected).  Scale
    posture: the WARC parse is partition-local Python; canonical-URL
    dedup and the shard window are the only table-sized shuffles; the
    LM and benchmark anchors are reference-bounded broadcast dims; LSH
    candidates are bucket-bounded.  The oracle replays all eight
    stages as chained CTEs."""
    return _web_pipeline_stages(spark, sf_dir)[-1]


_WEB_REPORT_SQL = _WEB_STAGES_CTE + """
    SELECT 0 AS stage_idx, 'corpus' AS stage,
           CAST(count(*) AS BIGINT) AS n_docs FROM corpus
    UNION ALL SELECT 1, 'url_dedup', CAST(count(*) AS BIGINT) FROM s1
    UNION ALL SELECT 2, 'langid', CAST(count(*) AS BIGINT) FROM s2
    UNION ALL SELECT 3, 'gopher', CAST(count(*) AS BIGINT) FROM s3
    UNION ALL SELECT 4, 'lm_filter', CAST(count(*) AS BIGINT) FROM s4
    UNION ALL SELECT 5, 'lsh_dedup', CAST(count(*) AS BIGINT) FROM s5
    UNION ALL SELECT 6, 'decontaminated', CAST(count(*) AS BIGINT) FROM s6
    UNION ALL SELECT 7, 'budget_selected', CAST(count(*) AS BIGINT)
    FROM cum WHERE cum_tokens <= 1500
    """


@q("curation_web_pipeline_report", _WEB_REPORT_SQL)
def curation_web_pipeline_report_q(spark, sf_dir):
    """Per-stage attrition report for the composed web pipeline — the
    observability twin of curation_web_pipeline_e2e, auditing the SAME
    stage builder (checkpoints included): one (stage_idx, stage,
    n_docs) row per stage from corpus through budget selection.  This
    is the funnel a pipeline owner actually watches: a stage whose
    survivor count moves 10x between crawls is the alarm, long before
    downstream model metrics drift.  The oracle reuses the e2e oracle's
    CTE chain verbatim with a counts-union final select, so the two
    queries can never diverge silently."""
    stages = _web_pipeline_stages(spark, sf_dir)
    names = ["corpus", "url_dedup", "langid", "gopher", "lm_filter",
             "lsh_dedup", "decontaminated", "budget_selected"]
    out = None
    for idx, (nm, df) in enumerate(zip(names, stages)):
        row = df.agg(
            F.lit(idx).cast("bigint").alias("stage_idx"),
            F.lit(nm).alias("stage"),
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        )
        out = row if out is None else out.unionByName(row)
    return out


# ---------------------------------------------------------------------------
# within-document overlap chunking (RAG / long-context prep)
# ---------------------------------------------------------------------------


@q(
    "curation_chunk_overlap",
    f"""
    WITH toks AS (
      SELECT doc_id, list_filter(string_split({_NORM}, ' '), x -> x != '') AS t
      FROM documents
    ),
    sized AS (SELECT doc_id, t, len(t) AS n FROM toks),
    k AS (
      SELECT doc_id, t, n,
             CASE WHEN n <= 16 THEN 1 ELSE 1 + (n - 16 + 11) // 12 END
               AS n_chunks
      FROM sized
    ),
    c AS (
      SELECT doc_id, chunk_idx, chunk_idx * 12 AS start_tok,
             least(chunk_idx * 12 + 16, n) AS end_tok, t
      FROM k, unnest(generate_series(0, n_chunks - 1)) AS u(chunk_idx)
    )
    SELECT doc_id, CAST(chunk_idx AS BIGINT) AS chunk_idx,
           CAST(start_tok AS BIGINT) AS start_tok,
           CAST(end_tok - start_tok AS BIGINT) AS n_tok,
           array_to_string(list_slice(t, start_tok + 1, end_tok), ' ')
             AS chunk_text
    FROM c
    """,
)
def curation_chunk_overlap_q(spark, sf_dir):
    """Sliding-window document chunking with overlap (chunk = 16 tokens,
    stride = 12 → 25% overlap) — the WITHIN-document retrieval/long-context
    chunker, complementing curation_pack_sequences (which concat-and-chunks
    ACROSS documents for training batches).  Chunk count per doc is pure
    integer arithmetic (1 + ceil((n-16)/12), floored at 1 so empty docs
    still emit their one empty chunk) and the chunk text is an array slice
    of the one tokenization — the text is tokenized ONCE, not per chunk.
    Scale shape: a generator projection (explode of an n_chunks-sized
    sequence) with zero shuffles; output grows by the overlap factor
    (~n/stride per doc), stated here because a silent 1.33x corpus
    amplification is exactly the thing to budget for at 100 TB."""
    from .operators.textanalysis import tokens

    d = read_table(spark, sf_dir, "documents")
    sized = d.select(
        "doc_id", tokens("text").alias("t")
    ).withColumn("n", F.size("t").cast("bigint"))
    k = sized.withColumn(
        "n_chunks",
        F.expr("CASE WHEN n <= 16 THEN 1 ELSE 1 + (n - 16 + 11) DIV 12 END"),
    )
    c = k.select(
        "doc_id", "t", "n",
        F.explode(F.sequence(F.lit(0), F.col("n_chunks") - 1)).alias("chunk_idx"),
    ).select(
        "doc_id",
        F.col("chunk_idx").cast("bigint").alias("chunk_idx"),
        (F.col("chunk_idx") * 12).cast("bigint").alias("start_tok"),
        (F.least(F.col("chunk_idx") * 12 + 16, F.col("n"))
         - F.col("chunk_idx") * 12).cast("bigint").alias("n_tok"),
        F.array_join(
            F.slice(
                F.col("t"),
                (F.col("chunk_idx") * 12 + 1).cast("int"),
                (F.least(F.col("chunk_idx") * 12 + 16, F.col("n"))
                 - F.col("chunk_idx") * 12).cast("int"),
            ),
            " ",
        ).alias("chunk_text"),
    )
    return c


# ---------------------------------------------------------------------------
# exact-k weighted sampling (PPS systematic)
# ---------------------------------------------------------------------------


@q(
    "curation_pps_sample",
    """
    WITH base AS (
      SELECT doc_id, CAST(n_chars AS BIGINT) AS w,
             md5('pps-v1::' || CAST(doc_id AS VARCHAR)) AS h
      FROM documents WHERE n_chars > 0
    ),
    b AS (SELECT *, ('0x' || substr(h, 1, 2))::BIGINT AS bk FROM base),
    c AS (
      SELECT doc_id, w,
             sum(w) OVER (ORDER BY bk, h, doc_id ROWS UNBOUNDED PRECEDING)
               AS cum
      FROM b
    ),
    tot AS (SELECT CAST(sum(w) AS BIGINT) AS total_w FROM base)
    SELECT doc_id, w AS weight,
           CAST((cum * 100) // total_w
                - ((cum - w) * 100) // total_w AS BIGINT) AS n_hits,
           CAST(((cum - w) * 100) // total_w + 1 AS BIGINT) AS first_ticket
    FROM c, tot
    WHERE (cum * 100) // total_w - ((cum - w) * 100) // total_w > 0
    """,
)
def curation_pps_sample_q(spark, sf_dir):
    """Exact-k probability-proportional-to-size sampling WITHOUT
    replacement (systematic / Madow sampling): k=100 evenly spaced
    "tickets" land on the cumulative-weight line (weight = n_chars), so
    every document is drawn with probability exactly k*w/W, the sample
    size is exactly k (sum(n_hits) == k is a pinned invariant), and a
    document heavier than one stride W/k can legitimately win multiple
    tickets — the deterministic complement to the Bernoulli-rate
    `weighted_sample` (operators/curation.py:354), for recipes that need
    an exact token budget rather than an expected rate.  Order on the
    cumulative line is the md5 of the doc id ('pps-v1' seed), so the
    draw is reproducible across engines, runs, and partitionings — and
    independent of the weight, as PPS requires.

    Scale shape: the global cumulative sum is the two-phase
    bucketed_prefix_sum decomposition (operators/sweep.py) — 256
    hash-prefix buckets (monotone in the md5 order), per-bucket totals
    as a dim, within-bucket windows distributed by bucket; NO
    single-task data-sized window anywhere.  materialize="offsets"
    checkpoints the 256-row dim in its own tiny eager job (and the
    grand total W derives from that dim), so the main plan is scan →
    broadcast join → ONE bucket-keyed window — the corpus is scanned
    twice column-pruned, never aggregated twice.  All ticket arithmetic
    is integer (cum*k DIV W) — exact on both engines; cum*k fits bigint
    through ~9e16 total weight (≈90 TB of text at k=100); beyond that
    cast the cum column to DECIMAL(38,0) — the DIV stays exact while
    the quotient (≤ k) fits."""
    from .operators import sweep

    d = read_table(spark, sf_dir, "documents")
    base = (
        d.filter(F.col("n_chars") > 0)
        .select(
            "doc_id",
            F.col("n_chars").cast("bigint").alias("w"),
            F.md5(F.concat(F.lit("pps-v1::"),
                           F.col("doc_id").cast("string"))).alias("h"),
        )
        .withColumn("bk", F.conv(F.substring("h", 1, 2), 16, 10).cast("bigint"))
    )
    c = sweep.bucketed_prefix_sum(
        base, "bk", ["h", "doc_id"], {"w": "w"},
        materialize="offsets", totals=["w"],
    )
    out = (
        c.select(
            F.col("doc_id").cast("bigint").alias("doc_id"),
            F.col("w").cast("bigint").alias("weight"),
            (F.expr("(cum_w * 100) DIV total_w")
             - F.expr("((cum_w - w) * 100) DIV total_w"))
            .cast("bigint").alias("n_hits"),
            (F.expr("((cum_w - w) * 100) DIV total_w") + 1)
            .cast("bigint").alias("first_ticket"),
        )
        .filter(F.col("n_hits") > 0)
    )
    return out
