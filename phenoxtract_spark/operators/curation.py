"""Corpus-curation operators for LLM training-data pipelines: repetition
filters (Gopher-style), PII scrubbing, deterministic dataset splits, and
train/test decontamination.

These extend the beyond-reference block (SURVEY §7.2 step 9).  Everything is
built-in-expression / explode+groupBy work — no Python row loops — and every
metric is deterministic so the DuckDB oracles compare bit-identically.

Scale notes (100 TB):
- repetition_stats shuffles once on (doc, n, gram) with map-side combine;
  gram rows are bounded by token count, never cross-document.
- pii_scrub is a pure projection (regexp chains inside codegen).
- dataset_split is a pure projection (md5 prefix → bucket), reproducible
  across engines, runs, and cluster layouts — no sampling, no RNG state.
- decontaminate joins train shingles against DISTINCT test shingles; the
  test side is the small side by construction (held-out sets are orders of
  magnitude smaller than train) and is broadcast.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .. import session
from .dedup import normalized_text, shingles_long

# ---------------------------------------------------------------------------
# repetition filters (Gopher-style, token-based)
# ---------------------------------------------------------------------------


def _gram_counts(df: DataFrame, id_col: str, text_col: str,
                 ns: tuple[int, ...] = (1, 2, 3)) -> DataFrame:
    """(id, n, gram, cnt) for all requested n-gram sizes in ONE window pass:
    posexplode tokens, build each n-gram from the token and its lead()s, then
    unpivot — a single shuffle on (id, n, gram) with partial aggregation."""
    from pyspark.sql.window import Window

    toks = df.select(
        F.col(id_col).alias("id"),
        F.posexplode(F.filter(F.split(normalized_text(text_col), " "),
                              lambda t: t != "")).alias("pos", "tok"),
    )
    w = Window.partitionBy("id").orderBy("pos")
    cols = [F.col("id"), F.col("pos"), F.col("tok").alias("g1")]
    prev = F.col("tok")
    for n in range(2, max(ns) + 1):
        prev = F.concat_ws(" ", prev, F.lead("tok", n - 1).over(w))
        cols.append(prev.alias(f"g{n}"))
    wide = toks.select(*cols)
    # unpivot to (id, n, gram); drop incomplete grams at the document tail
    # (lead() returns null there and concat_ws silently skips it, so detect
    # truncation by word count)
    stacked = wide.select(
        "id",
        F.stack(
            F.lit(len(ns)),
            *[x for n in ns for x in (F.lit(n), F.col(f"g{n}"))],
        ).alias("n", "gram"),
    ).filter(F.size(F.split(F.col("gram"), " ")) == F.col("n"))
    return stacked.groupBy("id", "n", "gram").agg(F.count("*").alias("cnt"))


def repetition_stats(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Per-document repetition metrics (all rounded to 6dp):

    - ``n_tokens``: whitespace token count
    - ``top_word_frac``: occurrences of the most frequent token / n_tokens
    - ``top_2gram_frac``: tokens covered by the most frequent 2-gram
      (count × 2 / n_tokens)
    - ``dup_3gram_frac``: tokens covered by 3-grams occurring more than once
      (Σ count × 3 / n_tokens, capped at 1.0 — sliding shingles overlap)

    High values flag boilerplate / degenerate repetition (Gopher §A.1.1-style
    filters, re-expressed over token n-grams)."""
    counts = _gram_counts(df, id_col, text_col, ns=(1, 2, 3))
    agg = counts.groupBy("id").agg(
        F.sum(F.when(F.col("n") == 1, F.col("cnt"))).alias("_n_tokens"),
        F.max(F.when(F.col("n") == 1, F.col("cnt"))).alias("_top1"),
        F.max(F.when(F.col("n") == 2, F.col("cnt"))).alias("_top2"),
        F.sum(
            F.when((F.col("n") == 3) & (F.col("cnt") > 1), F.col("cnt"))
        ).alias("_dup3"),
    )
    nt = F.col("_n_tokens").cast("double")
    return agg.select(
        F.col("id").alias(id_col),
        F.col("_n_tokens").alias("n_tokens"),
        F.round(F.col("_top1") / nt, 6).alias("top_word_frac"),
        F.round(F.coalesce(F.col("_top2"), F.lit(0)) * 2 / nt, 6).alias("top_2gram_frac"),
        F.round(
            F.least(F.coalesce(F.col("_dup3"), F.lit(0)) * 3 / nt, F.lit(1.0)), 6
        ).alias("dup_3gram_frac"),
    )


# ---------------------------------------------------------------------------
# PII scrubbing
# ---------------------------------------------------------------------------

# Patterns restricted to syntax valid in BOTH Java regex (Spark) and RE2
# (DuckDB): no backreferences, no lookaround.
PII_EMAIL = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PII_IPV4 = r"\b(\d{1,3}\.){3}\d{1,3}\b"
PII_PHONE = r"\+\d[\d\- ]{6,}\d"


def pii_counts(col: Column | str) -> list[Column]:
    """(n_email, n_ip, n_phone) match counts for one text column."""
    c = F.col(col) if isinstance(col, str) else col
    return [
        F.size(F.regexp_extract_all(c, F.lit(PII_EMAIL), 0)).alias("n_email"),
        F.size(F.regexp_extract_all(c, F.lit(PII_IPV4), 0)).alias("n_ip"),
        F.size(F.regexp_extract_all(c, F.lit(PII_PHONE), 0)).alias("n_phone"),
    ]


def pii_scrub(col: Column | str) -> Column:
    """Redact emails → [EMAIL], IPv4 → [IP], then phones → [PHONE].
    Application order is fixed (email first: it may contain digit runs a
    phone pattern would chew up) so engines agree bit-for-bit."""
    c = F.col(col) if isinstance(col, str) else col
    c = F.regexp_replace(c, PII_EMAIL, "[EMAIL]")
    c = F.regexp_replace(c, PII_IPV4, "[IP]")
    c = F.regexp_replace(c, PII_PHONE, "[PHONE]")
    return c


def scrub_documents(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Projection bundle: counts on the raw text + the scrubbed text."""
    return df.select(
        F.col(id_col),
        *pii_counts(text_col),
        pii_scrub(text_col).alias("scrubbed"),
    )


# ---------------------------------------------------------------------------
# deterministic dataset split
# ---------------------------------------------------------------------------


def split_bucket(id_col: Column | str, seed: str, buckets: int = 10000) -> Column:
    """Uniform bucket in [0, buckets) from the md5 of ``seed || '::' || id``.
    Pure projection — reproducible across engines, runs, partitionings, and
    cluster sizes, unlike ``rand()``/``randomSplit`` whose output depends on
    partition layout.  First 8 hex chars (< 2^32) → decimal → mod."""
    c = F.col(id_col) if isinstance(id_col, str) else id_col
    h = F.md5(F.concat_ws("::", F.lit(seed), c.cast("string")))
    return F.pmod(
        F.conv(F.substring(h, 1, 8), 16, 10).cast("bigint"), F.lit(buckets)
    )


def dataset_split(df: DataFrame, id_col: str, seed: str = "split-v1",
                  weights: dict[str, float] | None = None) -> DataFrame:
    """Assign every row to a named split by cumulative weight over the
    deterministic hash bucket.  Default 80/10/10 train/val/test."""
    weights = weights or {"train": 0.8, "val": 0.1, "test": 0.1}
    total = sum(weights.values())
    bucket = split_bucket(id_col, seed)
    expr = None
    acc = 0.0
    names = list(weights)
    for name in names[:-1]:
        acc += weights[name] / total
        cond = bucket < int(round(acc * 10000))
        expr = F.when(cond, F.lit(name)) if expr is None else expr.when(cond, F.lit(name))
    expr = (expr.otherwise(F.lit(names[-1])) if expr is not None
            else F.lit(names[-1]))
    return df.withColumn("bucket", bucket).withColumn("split", expr)


# ---------------------------------------------------------------------------
# train/test decontamination
# ---------------------------------------------------------------------------


def decontaminate(train: DataFrame, test: DataFrame, id_col: str,
                  text_col: str, k: int = 8,
                  min_overlap: int = 1) -> DataFrame:
    """Flag training documents sharing ≥ ``min_overlap`` distinct k-word
    shingles with any held-out document (the n-gram–overlap decontamination
    used for LLM eval hygiene).

    Returns (train_id, n_shared_shingles, n_test_docs_hit) — aggregated per
    training doc, so output is bounded by |train|, not by pair count.  The
    test side is reduced to DISTINCT (shingle, test_id) and broadcast: the
    held-out set is small by construction; the big train side streams
    map-side through the hash join with no shuffle."""
    tr = shingles_long(train, id_col, text_col, k).select(
        F.col("id").alias("train_id"), "sh"
    )
    te = shingles_long(test, id_col, text_col, k).select(
        F.col("id").alias("test_id"), "sh"
    ).distinct()
    joined = tr.join(F.broadcast(te), "sh")
    return (
        joined.groupBy("train_id")
        .agg(
            F.countDistinct("sh").alias("n_shared_shingles"),
            F.countDistinct("test_id").alias("n_test_docs_hit"),
        )
        .filter(F.col("n_shared_shingles") >= min_overlap)
    )


# ---------------------------------------------------------------------------
# sequence packing (context-window assembly for LLM training)
# ---------------------------------------------------------------------------


def pack_sequences(df: DataFrame, id_col: str, token_count, context_len: int = 2048,
                   shards: int = 64, seed: str = "pack-v1") -> DataFrame:
    """Concatenate-and-chunk sequence packing: assign every document a
    position in a stream of fixed-size context windows (GPT-style
    pretraining packing — docs are concatenated in a deterministic order
    and the stream is chunked every ``context_len`` tokens; a document may
    straddle a boundary and be split downstream).

    ``pack_id`` = the window the document STARTS in (exclusive running
    token total // context_len), ``pack_offset`` = its token offset inside
    that window.  Order is (shard, id): shard is the deterministic md5
    bucket, so the packing is reproducible across engines, runs, and
    cluster layouts, and each shard is an independent stream.

    Scale: ONE shuffle on shard + a per-shard running sum (window with
    unbounded-preceding frame — Spark evaluates it as a single sort per
    partition, O(1) running state, no quadratic frame re-scan).  Shard
    count bounds per-task sort size: at 100 TB pick shards ≈ corpus_tokens
    / (executor-comfortable ~10⁹ tokens); packing quality is unaffected
    because every shard fills its own windows densely.

    ``token_count`` is a Column (or column name) with the per-doc token
    count — precomputed, or an expression like
    ``textanalysis.token_count(text_col)``.
    Returns (id, n_tokens, shard, pack_id, pack_offset).
    """
    from pyspark.sql import Window

    tok = F.col(token_count) if isinstance(token_count, str) else token_count
    base = df.select(
        F.col(id_col).alias("id"),
        tok.cast("bigint").alias("n_tokens"),
        split_bucket(id_col, seed, buckets=shards).alias("shard"),
    )
    w = (
        Window.partitionBy("shard")
        .orderBy("id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    prefix = F.coalesce(F.sum("n_tokens").over(w), F.lit(0).cast("bigint"))
    return base.select(
        "id",
        "n_tokens",
        "shard",
        F.floor(prefix / context_len).cast("bigint").alias("pack_id"),
        F.pmod(prefix, F.lit(context_len)).cast("bigint").alias("pack_offset"),
    )


# ---------------------------------------------------------------------------
# embedding-space decontamination
# ---------------------------------------------------------------------------


def embedding_decontaminate(train: DataFrame, test: DataFrame,
                            id_col: str = "vec_id",
                            vec_col: str = "embedding",
                            threshold: float = 0.4,
                            round_dp: int = 6) -> DataFrame:
    """Flag training vectors semantically close (cosine ≥ ``threshold``)
    to any held-out vector — the embedding-space complement of n-gram
    ``decontaminate`` (catches paraphrased eval leakage that shares no
    shingle).

    Returns (train_id, max_cos, n_test_hits), bounded by |train|.  The
    held-out side ships with the closure (eval sets are small by
    construction); ONE Arrow ``mapInPandas`` pass over the train side
    scores each batch against the whole held-out matrix and emits the
    per-row max/count directly — no |train|·|test| intermediate relation
    at all (the old broadcast nested-loop evaluated interpreted per-pair
    ``F.aggregate`` lambdas and single-tasked a small scan: measured
    10+ min at sf1, now ~1 s).  Dot/norm folds accumulate SEQUENTIALLY
    over the dimension index — bitwise-equal to the expression fold and
    the oracle's unnest-ordered sums (the r5 kernel discipline in
    operators/similarity.py).  For corpus-scale "test" sides, pre-bucket
    both sides with ``similarity.assign_ivf_centroid`` instead.
    """
    import numpy as np
    import pandas as pd

    from .similarity import _round_half_up

    te_rows = test.select(
        F.col(id_col).alias("test_id"), F.col(vec_col).alias("_vb")
    ).collect()
    id_type = train.schema[id_col].dataType.simpleString()
    out_schema = f"train_id {id_type}, max_cos double, n_test_hits bigint"
    if not te_rows:
        return train.sparkSession.createDataFrame([], out_schema)
    B = np.array([np.asarray(r["_vb"], dtype=np.float64) for r in te_rows])
    dim = B.shape[1]
    nb = np.zeros(B.shape[0])
    for d in range(dim):  # sequential fold — see docstring
        nb += B[:, d] * B[:, d]
    nb = np.sqrt(nb)
    thr = float(threshold)
    tr = train.select(F.col(id_col).alias("train_id"), F.col(vec_col).alias("_va"))
    from ..session import fan_out

    tr = fan_out(tr)
    row_chunk = max(1, int(4_000_000 // len(te_rows)))

    def run(batches):
        for pdf in batches:
            for lo in range(0, len(pdf), row_chunk):
                part = pdf.iloc[lo : lo + row_chunk]
                if not len(part):
                    continue
                A = np.array(
                    [np.asarray(x, dtype=np.float64) for x in part["_va"]]
                )
                acc = np.zeros((len(part), len(te_rows)))
                na = np.zeros(len(part))
                for d in range(dim):  # sequential fold
                    acc += A[:, d : d + 1] * B[None, :, d]
                    na += A[:, d] * A[:, d]
                cos = _round_half_up(
                    acc / (np.sqrt(na)[:, None] * nb[None, :]), round_dp
                )
                hits = cos >= thr
                n_hits = hits.sum(axis=1)
                keep = n_hits > 0
                if not keep.any():
                    continue
                masked = np.where(hits, cos, -np.inf)
                yield pd.DataFrame(
                    {
                        "train_id": part["train_id"].values[keep],
                        "max_cos": masked.max(axis=1)[keep],
                        "n_test_hits": n_hits[keep].astype(np.int64),
                    }
                )

    return tr.mapInPandas(run, schema=out_schema)


# ---------------------------------------------------------------------------
# weighted source mixing
# ---------------------------------------------------------------------------


def weighted_sample(df: DataFrame, id_col: str, rate: Column,
                    seed: str = "mix-v1") -> DataFrame:
    """Deterministic weighted row sampling: keep a row iff its md5 bucket
    (10k buckets) falls below ``rate``·10000.  ``rate`` is a Column of
    doubles in [0, 1] — typically a per-source expression, making this the
    data-mixing primitive for training recipes ("sample src A at 50%,
    src B at 25%").  Pure projection + filter: reproducible across
    engines, runs, and partitionings; no shuffle.  The cutoff is
    ``floor(rate·10000)`` EXPLICITLY — Spark's double→bigint cast
    truncates while other engines round, so the floor is what makes the
    boundary bucket engine-identical for arbitrary rates."""
    b = split_bucket(id_col, seed)
    return (
        df.withColumn("rate", rate)
        .filter(b < F.floor(F.col("rate") * 10000).cast("bigint"))
    )


# ---------------------------------------------------------------------------
# corpus-wide exact line dedup (RefinedWeb/C4-style)
# ---------------------------------------------------------------------------


def line_dedup(df: DataFrame, id_col: str, lines: Column,
               keep: str = "first", sep: str = "\n") -> DataFrame:
    """Exact LINE-level dedup across the whole corpus: a line occurring in
    more than one document is kept only in its owner document (``keep=
    "first"`` → the minimum id) and removed everywhere else — the
    boilerplate-stripping pass web-scale pipelines run between document
    dedup and quality filtering (headers, nav bars, cookie banners
    repeat across pages that are NOT document-level duplicates).

    ``lines`` is any array<string> Column (``F.split(text, '\\n')`` for
    real corpora; token chunks for unstructured text).

    Returns (id, n_lines, n_dup_lines, n_removed, cleaned_text) with
    ``cleaned_text`` re-assembled in original line order.

    Scale: explode once; ONE corpus-wide shuffle keyed by the line hash
    (md5 — count + min-owner in the same aggregate, map-side combined);
    the ownership join comes back on the same hash key (co-partitioned
    sort-merge — ownership is line-cardinality-sized, so broadcast is
    impossible by construction); one final per-doc aggregate.  Re-assembly
    sorts each document's surviving (pos, line) pairs INSIDE the per-doc
    aggregate — no global sort.
    """
    if keep != "first":
        raise ValueError("only keep='first' (min id) is implemented")
    ex = df.select(
        F.col(id_col).alias("id"),
        F.posexplode(lines).alias("pos", "line"),
    ).withColumn("h", F.md5("line"))
    owners = ex.groupBy("h").agg(
        F.min("id").alias("_owner"),
        F.countDistinct("id").alias("_ndocs"),
    )
    tagged = ex.join(owners, "h").withColumn(
        "_keep", (F.col("_ndocs") == 1) | (F.col("id") == F.col("_owner"))
    )
    kept_line = F.when(F.col("_keep"), F.struct("pos", "line"))
    return tagged.groupBy("id").agg(
        F.count(F.lit(1)).alias("n_lines"),
        F.sum((F.col("_ndocs") > 1).cast("bigint")).alias("n_dup_lines"),
        F.sum((~F.col("_keep")).cast("bigint")).alias("n_removed"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(kept_line)), lambda s: s["line"]
            ),
            sep,
        ).alias("cleaned_text"),
    )


# ---------------------------------------------------------------------------
# feature hashing (hashing-trick featurization)
# ---------------------------------------------------------------------------


def hashed_features(df: DataFrame, id_col: str, text_col: str,
                    buckets: int = 64, seed: str = "feat-v1") -> DataFrame:
    """Hashing-trick bag-of-words: token → md5-bucket in [0, buckets),
    counted per document, with an L2-normalized weight.

    Long (doc, bucket, cnt) form — the sparse-vector encoding a 100 TB
    featurization pass wants (dense vectors of width ``buckets`` reshape
    from it with one pivot if needed).  One (doc, bucket) shuffle with
    map-side combine, then a narrow per-doc window for the norm; the hash
    is engine-portable (same md5-prefix scheme as ``split_bucket``).
    """
    from pyspark.sql.window import Window

    toks = df.select(
        F.col(id_col),
        F.explode(
            F.filter(F.split(normalized_text(text_col), " "), lambda t: t != "")
        ).alias("tok"),
    )
    bucket = F.pmod(
        F.conv(
            F.substring(
                F.md5(F.concat_ws("::", F.lit(seed), F.col("tok"))), 1, 8
            ),
            16, 10,
        ).cast("bigint"),
        F.lit(buckets),
    )
    counts = (
        toks.select(F.col(id_col), bucket.alias("bucket"))
        .groupBy(id_col, "bucket")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    w = Window.partitionBy(id_col)
    return counts.select(
        F.col(id_col),
        F.col("bucket"),
        F.col("cnt"),
        F.round(
            F.col("cnt") / F.sqrt(F.sum(F.col("cnt") * F.col("cnt")).over(w)), 6
        ).alias("l2_weight"),
    )


# ---------------------------------------------------------------------------
# cross-source duplication overlap
# ---------------------------------------------------------------------------


def cross_source_overlap(df: DataFrame, group_col: str, text_col: str) -> DataFrame:
    """Shared-content matrix between corpus sources: for every unordered
    source pair, how many distinct normalized-text digests appear in both.

    The health report a multi-source training mix needs before weighting
    sources (double-counted content inflates a source's effective weight).
    Distinct (source, digest) first — output of that pass ≤ corpus size —
    then a digest-keyed self-join whose cost is Σ|digest group|² over
    *cross-source* duplicate groups only.  The full pair matrix (including
    zero-overlap pairs) comes from a broadcast cross of the tiny distinct
    source list, so the result shape is deterministic.
    """
    # distinct (source, digest) is the expensive pass (full text scan +
    # one shuffle); materialize it once — it feeds the self-join twice AND
    # the source list, so without this the text column is scanned 3×
    digests = session.materialize(
        df.select(
            F.col(group_col).alias("src"),
            F.md5(normalized_text(text_col)).alias("dig"),
        ).distinct()
    )
    overlap = (
        digests.alias("a")
        .join(
            digests.alias("b"),
            (F.col("a.dig") == F.col("b.dig"))
            & (F.col("a.src") < F.col("b.src")),
        )
        .groupBy(
            F.col("a.src").alias("source_a"), F.col("b.src").alias("source_b")
        )
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )
    sources = digests.select(F.col("src").alias("s")).distinct()
    pairs = (
        F.broadcast(sources.alias("s1"))
        .crossJoin(F.broadcast(sources.alias("s2")))
        .where(F.col("s1.s") < F.col("s2.s"))
        .select(
            F.col("s1.s").alias("source_a"), F.col("s2.s").alias("source_b")
        )
    )
    return pairs.join(overlap, ["source_a", "source_b"], "left").select(
        "source_a",
        "source_b",
        F.coalesce("n_shared", F.lit(0)).cast("bigint").alias("n_shared"),
    )


# ---------------------------------------------------------------------------
# HTML boilerplate stripping
# ---------------------------------------------------------------------------


def html_strip(col: Column | str) -> Column:
    """Strip HTML to text: drop tags, decode the common entities, collapse
    whitespace.  Pure regexp/replace projection — zero shuffles; the
    C4/RefinedWeb-style first pass over crawled corpora.  Entity decode
    order is fixed (``&amp;`` last, the standard order that never
    double-decodes)."""
    c = F.col(col) if isinstance(col, str) else col
    out = F.regexp_replace(c, r"<[^>]+>", " ")
    for ent, rep in (
        ("&nbsp;", " "),
        ("&lt;", "<"),
        ("&gt;", ">"),
        ("&quot;", '"'),
        ("&#39;", "'"),
        ("&amp;", "&"),
    ):
        out = F.replace(out, F.lit(ent), F.lit(rep))
    return F.trim(F.regexp_replace(out, r"\s+", " "))


def strip_html_documents(df: DataFrame, id_col: str, html_col: str) -> DataFrame:
    """Projection bundle: tag count, stripped text, and length ratio
    (stripped/raw) — the boilerplate-density signal used to drop
    chrome-heavy pages."""
    c = F.col(html_col)
    stripped = html_strip(c)
    return df.select(
        F.col(id_col),
        F.size(F.expr(f"regexp_extract_all({html_col}, '<[^>]+>', 0)"))
        .cast("bigint")
        .alias("n_tags"),
        stripped.alias("stripped"),
        F.round(F.length(stripped) / F.length(c).cast("double"), 6).alias(
            "keep_ratio"
        ),
    )


def token_budget_select(df: DataFrame, id_col: str, quality: Column,
                        n_tokens: Column, budget_per_shard: int,
                        shards: int = 8, seed: str = "budget-v1") -> DataFrame:
    """Token-budget-constrained data selection: keep the highest-quality
    documents whose RUNNING token total stays within a per-shard budget —
    the "best N tokens" step between scoring and tokenization when the
    training run's size is fixed in tokens, not documents.

    Greedy by (quality desc, id asc) is the canonical baseline; the
    deterministic md5 shard (``split_bucket`` scheme) makes the global
    budget a sum of per-shard budgets, so the window sort is per-shard —
    never a global sort — and the selection is reproducible across
    engines/layouts/cluster sizes.  One shuffle (shard), one window pass.
    Returns (id, shard, n_tokens, quality, cum_tokens), selected rows only.
    """
    from pyspark.sql.window import Window

    shard = split_bucket(id_col, seed, buckets=shards)
    base = df.select(
        F.col(id_col).alias("id"),
        shard.alias("shard"),
        n_tokens.cast("bigint").alias("n_tokens"),
        quality.alias("quality"),
    )
    w = (
        Window.partitionBy("shard")
        .orderBy(F.col("quality").desc(), F.col("id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        base.withColumn("cum_tokens", F.sum("n_tokens").over(w))
        .filter(F.col("cum_tokens") <= budget_per_shard)
    )


def train_quality_lr(df: DataFrame, id_col: str, text_col: str,
                     buckets: int = 16, iterations: int = 2, lr: float = 1.0,
                     threshold: float = 0.55, seed: str = "feat-v1",
                     round_dp: int = 6) -> DataFrame:
    """Train a fasttext-style linear quality classifier: full-batch
    logistic-regression gradient descent over :func:`hashed_features`
    (plus a bias feature, bucket −1), labels from the deterministic
    ``quality_score`` threshold — the trainable counterpart of the
    rule-based scorer, and the third iterative-training operator next to
    k-means (clustering.py) and BPE (textanalysis.py).

    Fixed iteration count, zero init, deterministic arithmetic end to
    end: iteration 1's predictions are exactly σ(0) = 0.5, every later
    weight is plain joins + sums, so a SQL oracle replays the whole
    trajectory CTE by CTE.  Margin and gradient sums use the PageRank
    recipe (queries_graph.py): per-term products round to 9 dp and
    accumulate in DECIMAL(28,12) — exact, associative, so partial-agg
    order cannot shift the result across runs or engines (the r7 driver
    flake on the calibration row was exactly this class).

    Scale shape: the (doc, bucket, x, y) design matrix materializes ONCE
    (it is re-consumed every iteration across job boundaries, where
    exchange reuse cannot help); each iteration is one margin groupBy
    (by doc) + one gradient groupBy (by bucket) + a (buckets+1)-row
    collect — the same bounded-driver-traffic loop as kmeans/pagerank.
    Returns (bucket, weight) with bucket −1 = bias."""
    from .textanalysis import quality_score

    feats = hashed_features(df, id_col, text_col, buckets, seed).select(
        F.col(id_col).alias("id"), "bucket", F.col("l2_weight").alias("x")
    )
    bias = df.select(
        F.col(id_col).alias("id"),
        F.lit(-1).cast("bigint").alias("bucket"),
        F.lit(1.0).alias("x"),
    )
    labels = df.select(
        F.col(id_col).alias("id"),
        F.when(quality_score(text_col) >= threshold, F.lit(1.0))
        .otherwise(F.lit(0.0))
        .alias("y"),
    )
    fl = session.materialize(feats.unionByName(bias).join(labels, "id"))
    n = df.count()
    spark = df.sparkSession
    w: dict[int, float] = {}
    for it in range(iterations):
        if not w:
            # zero weights: every margin is 0, p = 0.5 exactly
            errs = labels.select("id", (F.lit(0.5) - F.col("y")).alias("err"))
        else:
            wdf = F.broadcast(
                spark.createDataFrame(
                    sorted(w.items()), "bucket bigint, w double"
                )
            )
            margins = (
                fl.join(wdf, "bucket")
                .groupBy("id")
                .agg(F.sum(F.round(F.col("w") * F.col("x"), 9)
                           .cast("decimal(28,12)"))
                     .cast("double").alias("margin"),
                     F.max("y").alias("y"))
            )
            errs = margins.select(
                "id",
                (F.lit(1.0) / (F.lit(1.0) + F.exp(-F.col("margin"))) - F.col("y"))
                .alias("err"),
            )
        grad = (
            fl.join(errs, "id")
            .groupBy("bucket")
            .agg((F.sum(F.round(F.col("x") * F.col("err"), 9)
                        .cast("decimal(28,12)"))
                  .cast("double") / n).alias("g"))
            .collect()
        )
        for r in grad:
            w[r["bucket"]] = w.get(r["bucket"], 0.0) - lr * r["g"]
    return spark.createDataFrame(
        sorted(w.items()), "bucket bigint, weight double"
    ).select("bucket", F.round("weight", round_dp).alias("weight"))


def span_corruption(df: DataFrame, id_col: str, text_col: str,
                    mask_permille: int = 150, block: int = 3,
                    seed: str = "t5-v1") -> DataFrame:
    """T5-style span-corruption example generation: mask ~15% of tokens
    in contiguous spans, emit the sentinel-marked input and the
    sentinel-prefixed target — the denoising-objective data prep step
    of a pretraining pipeline, as one deterministic relational plan.

    Deterministic variant of T5's sampling: positions group into fixed
    ``block``-token blocks and a block masks when
    md5(seed|id|block) % 1000 < ``mask_permille``; adjacent masked
    blocks merge into longer spans (so span lengths vary around
    ``block`` like T5's mean-3 geometric spans, without RNG state).
    Sentinels number left to right per document, ``<extra_id_k>``.

    Returns (id, input_text, target_text, n_spans, n_masked_tokens).
    Plan: one posexplode, two narrow per-doc windows (span-start lag +
    running sentinel rank), one ordered-concat groupBy — all
    partitioned by doc id, no driver logic, oracle-replayable
    verbatim."""
    from pyspark.sql.window import Window

    from .dedup import normalized_text

    toks = df.select(
        F.col(id_col).alias("id"),
        F.posexplode(
            F.filter(F.split(normalized_text(text_col), " "), lambda t: t != "")
        ).alias("pos", "tok"),
    )
    blk = (F.col("pos") / block).cast("bigint")
    h = (
        F.conv(
            F.substring(
                F.md5(F.concat_ws("|", F.lit(seed), F.col("id").cast("string"),
                                  blk.cast("string"))),
                1, 8,
            ),
            16, 10,
        ).cast("bigint") % 1000
    )
    t = toks.withColumn("masked", (h < mask_permille))
    w = Window.partitionBy("id").orderBy("pos")
    t = t.withColumn(
        "span_start",
        F.col("masked") & ~F.coalesce(F.lag("masked").over(w), F.lit(False)),
    )
    t = t.withColumn(
        "k",
        F.sum(F.col("span_start").cast("int")).over(
            w.rowsBetween(Window.unboundedPreceding, 0)
        ),
    )
    sentinel = F.concat(F.lit("<extra_id_"), F.col("k").cast("string"), F.lit(">"))
    in_piece = (
        F.when(~F.col("masked"), F.col("tok"))
        .when(F.col("span_start"), sentinel)
        .otherwise(F.lit(None))
    )
    tgt_piece = F.when(
        F.col("masked"),
        F.when(F.col("span_start"), F.concat(sentinel, F.lit(" "), F.col("tok")))
        .otherwise(F.col("tok")),
    )

    def ordered_concat(piece):
        return F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.when(piece.isNotNull(), F.struct(F.col("pos"), piece.alias("p")))
                    )
                ),
                lambda x: x["p"],
            ),
            " ",
        )

    return t.groupBy("id").agg(
        ordered_concat(in_piece).alias("input_text"),
        ordered_concat(tgt_piece).alias("target_text"),
        F.max("k").cast("bigint").alias("n_spans"),
        F.sum(F.col("masked").cast("int")).cast("bigint").alias("n_masked_tokens"),
    )


def dsir_select(df: DataFrame, id_col: str, text_col: str, target_pred,
                k: int = 100, buckets: int = 1024, alpha: float = 0.5,
                seed: str = "dsir-v1", round_dp: int = 4) -> DataFrame:
    """Data Selection with Importance Resampling (DSIR, Xie et al. 2023,
    arXiv:2302.03169) re-expressed relationally: score every pool
    document by how much more likely its hashed-bigram features are under
    the TARGET domain's feature distribution than under the raw pool's,
    and keep the top-k.

    w(doc) = Σ_f n_f(doc) · ( ln p̂_tgt(f) − ln p̂_raw(f) ),  with
    p̂(f) = (count(f) + α) / (total + α·B)  (additive smoothing over the
    B-bucket hashed feature space, so unseen features are defined).

    ``target_pred`` is a boolean Column marking the in-domain seed rows;
    selection ranks only the complement (the pool), as in the paper.

    Scale: one bigram explode feeding two bucket-space aggregations
    (≤ B rows each — broadcast dims), one per-doc agg, then a top-k that
    compiles to TakeOrderedAndProject (no global sort, no single-task
    window over the corpus; the rank window runs on the k-row result).
    Ranking uses the ROUNDED weight (desc) with id tiebreak so the order
    is reproducible across engines despite float summation order.
    Returns (id, n_bigrams, logw, rank), rank 1..k.
    """
    from pyspark.sql.window import Window

    docs = df.select(
        F.col(id_col).alias("id"),
        target_pred.alias("_is_tgt"),
        F.filter(
            F.split(normalized_text(text_col), " "), lambda t: t != ""
        ).alias("t"),
    )
    pairs = docs.select(
        "id",
        "_is_tgt",
        F.explode(
            F.arrays_zip(
                F.slice(F.col("t"), 1, F.greatest(F.size("t") - 1, F.lit(0))).alias("prev"),
                F.slice(F.col("t"), 2, F.greatest(F.size("t") - 1, F.lit(0))).alias("tok"),
            )
        ).alias("bg"),
    ).select(
        "id",
        "_is_tgt",
        F.pmod(
            F.conv(
                F.substring(
                    F.md5(
                        F.concat_ws(
                            "::", F.lit(seed), F.col("bg.prev"), F.col("bg.tok")
                        )
                    ),
                    1, 8,
                ),
                16, 10,
            ).cast("bigint"),
            F.lit(buckets),
        ).alias("bucket"),
    )
    # per-(doc, bucket) counts — the only corpus-sized shuffle; the two
    # distribution dims below roll up from it (bucket-space-sized)
    feats = session.materialize(
        pairs.groupBy("id", "_is_tgt", "bucket")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    dims = feats.groupBy("bucket").agg(
        F.sum(F.when(F.col("_is_tgt"), F.col("cnt")).otherwise(F.lit(0))).alias("_tc"),
        F.sum(F.when(~F.col("_is_tgt"), F.col("cnt")).otherwise(F.lit(0))).alias("_rc"),
    )
    totals = dims.agg(
        F.sum("_tc").alias("_tt"), F.sum("_rc").alias("_rt")
    )
    ab = float(alpha) * buckets
    logratio = (
        F.log((F.col("_tc") + F.lit(alpha)) / (F.col("_tt") + F.lit(ab)))
        - F.log((F.col("_rc") + F.lit(alpha)) / (F.col("_rt") + F.lit(ab)))
    )
    scored = (
        feats.filter(~F.col("_is_tgt"))
        .join(F.broadcast(dims), "bucket")
        .join(F.broadcast(totals))
        .groupBy("id")
        .agg(
            F.sum("cnt").cast("bigint").alias("n_bigrams"),
            F.round(F.sum(F.col("cnt") * logratio), round_dp).alias("logw"),
        )
    )
    top = scored.orderBy(F.col("logw").desc(), F.col("id").asc()).limit(k)
    w = Window.orderBy(F.col("logw").desc(), F.col("id").asc())
    return top.withColumn("rank", F.row_number().over(w).cast("bigint"))


def pareto_frontier_2d(df: DataFrame, id_col: str, max_col: str,
                       min_col: str, bits: int = 8) -> DataFrame:
    """Exact 2-D Pareto frontier (skyline): keep every row NOT dominated
    — no other row with ``max_col`` >= it AND ``min_col`` <= it, strict
    in at least one.  The data-selection question "which documents give
    the most quality for the least cost" with no scalarization weights.
    Ties on BOTH axes all survive (the classic skyline contract).

    Scale design — the textbook running-min over a global quality order
    would be ONE task over n rows.  Instead the global-order recurrence
    is decomposed into three bounded pieces:

    1. group to per-distinct-``max_col`` minima (|distinct q| rows);
    2. bucket those onto a ``2^bits`` grid; the ACROSS-bucket running
       min runs on the 2^bits-row bucket relation (trivially one task);
    3. the WITHIN-bucket running min is a window partitioned by bucket —
       distributed across buckets, each a |distinct q|/2^bits slice.

    A row is dominated iff the min cost among STRICTLY higher q (the
    least of pieces 2+3) is <= its cost, or its q-group's own min is
    strictly below.  All comparisons on exact stored values — the grid
    only routes the recurrence, never decides dominance.  Returns the
    surviving (id, max_col, min_col) rows."""
    from pyspark.sql.window import Window

    from .layout import scale_to_grid

    d = df.select(
        F.col(id_col).alias("id"),
        F.col(max_col).cast("double").alias("q"),
        F.col(min_col).cast("double").alias("c"),
    ).filter(F.col("q").isNotNull() & F.col("c").isNotNull())
    per_q = d.groupBy("q").agg(F.min("c").alias("mq"))
    stats = per_q.agg(F.min("q").alias("_lo"), F.max("q").alias("_hi"))
    bq = per_q.crossJoin(F.broadcast(stats)).select(
        "q", "mq",
        scale_to_grid(F.col("q"), F.col("_lo"), F.col("_hi"), bits).alias("_b"),
    )
    bmins = bq.groupBy("_b").agg(F.min("mq").alias("_bm"))
    wb = Window.orderBy(F.col("_b").desc()).rowsBetween(
        Window.unboundedPreceding, -1
    )
    # 2^bits rows: the single-task window is on the TINY relation only
    bprev = bmins.withColumn("_hb", F.min("_bm").over(wb)).select("_b", "_hb")
    ww = Window.partitionBy("_b").orderBy(F.col("q").desc()).rowsBetween(
        Window.unboundedPreceding, -1
    )
    ranked = (
        bq.join(F.broadcast(bprev), "_b")
        .withColumn("_hw", F.min("mq").over(ww))
        .select(
            "q", "mq",
            F.least("_hb", "_hw").alias("_mc_strict"),  # least skips nulls
        )
    )
    joined = d.join(ranked, "q")
    dominated = (
        F.coalesce(F.col("_mc_strict") <= F.col("c"), F.lit(False))
        | (F.col("mq") < F.col("c"))
    )
    return joined.filter(~dominated).select(
        F.col("id").alias(id_col),
        F.col("q").alias(max_col),
        F.col("c").alias(min_col),
    )


def shrunk_group_means(df: DataFrame, group_col: str, value_col: Column | str,
                       prior_weight: float = 20.0,
                       round_dp: int = 6) -> DataFrame:
    """Empirical-Bayes shrinkage of per-group means toward the global
    mean: shrunk = (k·μ_global + n·mean_g) / (k + n) — the standard fix
    for ranking domains/sources by a quality signal when group sizes
    span orders of magnitude (a 3-document domain with three lucky
    scores must not outrank a 3-million-document domain; as n grows the
    estimate converges to the raw mean, as n→0 it falls back to the
    prior).  Two aggregates: the 1-row global mean broadcasts onto the
    per-group relation — no second pass over the data.  Returns
    (group, n_rows, raw_mean, shrunk_mean), means rounded in-query for
    cross-engine determinism."""
    v = F.col(value_col) if isinstance(value_col, str) else value_col
    per = df.groupBy(group_col).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        F.sum(v.cast("double")).alias("_s"),
    )
    glob = df.agg(
        (F.sum(v.cast("double")) / F.count(F.lit(1))).alias("_gm")
    )
    k = float(prior_weight)
    return per.crossJoin(F.broadcast(glob)).select(
        F.col(group_col),
        "n_rows",
        F.round(F.col("_s") / F.col("n_rows"), round_dp).alias("raw_mean"),
        F.round(
            (F.lit(k) * F.col("_gm") + F.col("_s"))
            / (F.lit(k) + F.col("n_rows")),
            round_dp,
        ).alias("shrunk_mean"),
    )


def lr_reliability_bins(df: DataFrame, id_col: str, text_col: str,
                        buckets: int = 16, iterations: int = 2,
                        lr: float = 1.0, threshold: float = 0.55,
                        seed: str = "feat-v1", n_bins: int = 10,
                        round_dp: int = 6) -> DataFrame:
    """Calibration (reliability) curve for the trained quality
    classifier: bin the predicted probabilities into ``n_bins`` equal
    intervals and report per-bin count, mean prediction, and observed
    positive rate — the standard check that a filtering threshold on the
    classifier's score means what it says (a calibrated model has
    frac_pos ≈ mean_pred per bin).  Completes the classifier story:
    train (:func:`train_quality_lr`) → predict → calibrate.

    Bins are equal-width over the OBSERVED score range (a 1-row
    broadcast min/max dim) — a lightly-trained model clusters its scores
    in a narrow band, and absolute [0,1] deciles would collapse the
    whole curve into one bin.  Predictions use the trainer's ROUNDED
    returned weights (the same relation an oracle replays); probabilities
    round before binning so the bin boundary is deterministic
    cross-engine.  Returns (bin, n_docs, mean_pred, frac_pos)."""
    from .textanalysis import quality_score

    weights = train_quality_lr(
        df, id_col, text_col, buckets, iterations, lr, threshold, seed,
        round_dp,
    )
    feats = hashed_features(df, id_col, text_col, buckets, seed).select(
        F.col(id_col).alias("id"), "bucket", F.col("l2_weight").alias("x")
    )
    bias = df.select(
        F.col(id_col).alias("id"),
        F.lit(-1).cast("bigint").alias("bucket"),
        F.lit(1.0).alias("x"),
    )
    labels = df.select(
        F.col(id_col).alias("id"),
        F.when(quality_score(text_col) >= threshold, F.lit(1.0))
        .otherwise(F.lit(0.0))
        .alias("y"),
    )
    margins = (
        feats.unionByName(bias)
        .join(F.broadcast(weights), "bucket")
        .groupBy("id")
        .agg(F.sum(F.round(F.col("weight") * F.col("x"), 9)
                   .cast("decimal(28,12)"))
             .cast("double").alias("margin"))
    )
    prob = F.round(
        F.lit(1.0) / (F.lit(1.0) + F.exp(-F.col("margin"))), round_dp
    )
    scored = margins.join(labels, "id").select(prob.alias("p"), "y")
    rng = scored.agg(F.min("p").alias("_lo"), F.max("p").alias("_hi"))
    binned = scored.crossJoin(F.broadcast(rng)).select(
        F.when(
            F.col("_hi") > F.col("_lo"),
            F.least(
                F.floor(
                    (F.col("p") - F.col("_lo"))
                    / (F.col("_hi") - F.col("_lo")) * n_bins
                ).cast("bigint"),
                F.lit(int(n_bins) - 1),
            ),
        ).otherwise(F.lit(0).cast("bigint")).alias("bin"),
        "p", "y",
    )
    # per-bin averages report at 4 dp: they aggregate hundreds of
    # already-rounded doubles, where 6-dp half-boundaries DO occur
    # cross-engine (observed once at sf0.01) — same coarsening as the
    # LM-scoring queries
    return binned.groupBy("bin").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.round(
            F.sum(F.col("p").cast("decimal(28,12)")).cast("double")
            / F.count(F.lit(1)),
            4,
        ).alias("mean_pred"),
        F.round(F.avg("y"), 4).alias("frac_pos"),
    )


def length_bucket_padding(df: DataFrame, id_col: str, n_tokens,
                          round_dp: int = 6) -> DataFrame:
    """Batching-efficiency report for length-bucketed training: assign
    every document to its power-of-two token-length bucket and report,
    per bucket, the padding waste of batching within that bucket
    (everything pads to the bucket ceiling) NEXT TO the single-bucket
    baseline (everything pads to the global max) — the measured argument
    for bucketed batching, as data.

    waste = 1 − Σtokens / (n_docs · pad_to); all integer arithmetic up
    to the final ratio.  One groupBy on ~log2(max_len) keys plus a
    1-row broadcast global max; the baseline row carries bucket = −1.
    Returns (bucket_ceiling, n_docs, total_tokens, padded_tokens,
    waste_frac) with the baseline's bucket_ceiling = global max."""
    n = (F.col(n_tokens) if isinstance(n_tokens, str) else n_tokens).cast(
        "bigint"
    )
    d = df.select(F.col(id_col).alias("id"), n.alias("_n")).filter(
        F.col("_n") > 0
    )
    # ceiling = 2^ceil(log2(n)) via the bit length of (n-1) — the
    # exponent comes from a string length, never a float log; pow(2, L)
    # is exact in double for any realistic length, cast back to bigint
    bit_len = F.length(F.conv((F.col("_n") - 1).cast("string"), 10, 2))
    ceil_pow2 = F.when(
        F.col("_n") == 1, F.lit(1).cast("bigint")
    ).otherwise(F.pow(F.lit(2.0), bit_len.cast("double")).cast("bigint"))
    per = (
        d.select(ceil_pow2.alias("bucket_ceiling"), F.col("_n"))
        .groupBy("bucket_ceiling")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("_n").cast("bigint").alias("total_tokens"),
        )
        .withColumn(
            "padded_tokens", (F.col("n_docs") * F.col("bucket_ceiling")).cast("bigint")
        )
    )
    base = d.agg(
        F.max("_n").cast("bigint").alias("bucket_ceiling"),
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("_n").cast("bigint").alias("total_tokens"),
    ).select(
        "bucket_ceiling", "n_docs", "total_tokens",
        (F.col("n_docs") * F.col("bucket_ceiling")).cast("bigint").alias(
            "padded_tokens"
        ),
        F.lit(False).alias("bucketed"),
    )
    out = per.withColumn("bucketed", F.lit(True)).unionByName(base)
    return out.select(
        "bucketed", "bucket_ceiling", "n_docs", "total_tokens",
        "padded_tokens",
        F.round(
            F.lit(1.0)
            - F.col("total_tokens").cast("double") / F.col("padded_tokens"),
            round_dp,
        ).alias("waste_frac"),
    )


def domain_mixture_weights(df: DataFrame, domain_col: str, quality: Column,
                           rounds: int = 3, eta: float = 0.5,
                           round_dp: int = 9) -> DataFrame:
    """DoReMi-style domain reweighting as data: fixed multiplicative-
    weights rounds over per-domain excess loss, so a training-data mix
    upweights domains the proxy finds hard and downweights easy ones —
    the mixture-optimization step between per-domain scoring and
    sampling (Xie et al., DoReMi; the exp() update replaced by the
    rational ``w·(1 + η·(L_d − L̄))`` form so every step is plain
    arithmetic both engines replay exactly — loss gaps are ≤1 so the
    factor stays in [1−η, 1+η], strictly positive).

    Determinism: the only data-sized aggregate (per-domain loss) and
    every cross-domain sum use the DECIMAL(28,12) recipe (9-dp rounded
    terms, exact associative accumulation); each round's weights round
    to ``round_dp`` before the next, so the trajectory is a fixed-point
    sequence an unrolled-CTE oracle reproduces bit-for-bit.

    Scale shape: one groupBy(domain) over the corpus, then ``rounds``
    iterations on the K-row domain relation (K = #domains, tiny) with
    1-row broadcast sums — cost is one table pass regardless of rounds.
    Returns (domain, n_docs, domain_loss, weight), Σweight = 1."""
    dom = session.materialize(
        df.groupBy(F.col(domain_col).alias("domain")).agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.round(
                F.lit(1.0)
                - F.sum(F.round(quality, 9).cast("decimal(28,12)"))
                .cast("double") / F.count(F.lit(1)),
                round_dp,
            ).alias("domain_loss"),
            # the ONLY data-sized aggregate: checkpoint so the unrolled
            # rounds (each with a 1-row crossJoin branch that would otherwise
            # replay the corpus groupBy) iterate on the K-row result —
            # without this the 3-round plan held 255 exchanges
        )
    )
    k = dom.agg(F.count(F.lit(1)).alias("_k"))
    w = (
        dom.crossJoin(F.broadcast(k))
        .select(
            "domain", "n_docs", "domain_loss",
            F.round(F.lit(1.0) / F.col("_k"), round_dp).alias("weight"),
        )
    )
    for _ in range(int(rounds)):
        lbar = w.agg(
            F.sum(
                F.round(F.col("weight") * F.col("domain_loss"), 9)
                .cast("decimal(28,12)")
            ).cast("double").alias("_lbar")
        )
        raw = w.crossJoin(F.broadcast(lbar)).select(
            "domain", "n_docs", "domain_loss",
            F.round(
                F.col("weight")
                * (F.lit(1.0) + F.lit(float(eta))
                   * (F.col("domain_loss") - F.col("_lbar"))),
                9,
            ).alias("_raw"),
        )
        tot = raw.agg(
            F.sum(F.col("_raw").cast("decimal(28,12)"))
            .cast("double").alias("_tot")
        )
        w = session.materialize(
            raw.crossJoin(F.broadcast(tot)).select(
                "domain", "n_docs", "domain_loss",
                F.round(F.col("_raw") / F.col("_tot"), round_dp).alias("weight"),
            )
        )  # K rows; keeps round r+1's plan flat
    return w
