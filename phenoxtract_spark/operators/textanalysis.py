"""Text analysis operators for training-data pipelines (SURVEY §7.2 step 9):
language-ID (stopword-vote heuristic), quality scoring, token counting,
document fingerprinting.  All pure built-in expressions (codegen-friendly);
each has an exact SQL oracle.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from .. import session
from .dedup import normalized_text, shingles

# Small stopword vocabularies per language for the n-gram/stopword-vote
# heuristic.  Votes = count of token-matches per language; argmax wins,
# ties broken lexicographically; zero votes → 'und' (undetermined).
LANG_STOPWORDS: dict[str, tuple[str, ...]] = {
    "en": ("the", "and", "of", "to", "is", "in", "that", "it", "was", "for"),
    "de": ("der", "die", "das", "und", "ist", "nicht", "ein", "mit", "ich", "zu"),
    "fr": ("le", "la", "les", "et", "est", "une", "que", "pour", "dans", "qui"),
    "es": ("el", "la", "los", "y", "es", "una", "que", "por", "con", "para"),
    "it": ("il", "la", "che", "e", "un", "per", "sono", "con", "non", "una"),
}


def tokens(col: Column | str) -> Column:
    """Whitespace tokenization over normalized text; empty-string-safe."""
    c = F.col(col) if isinstance(col, str) else col
    return F.filter(F.split(normalized_text(c), " "), lambda t: t != "")


def token_count(col: Column | str) -> Column:
    return F.size(tokens(col))


def bpe_ish_token_count(col: Column | str) -> Column:
    """BPE-ish token estimate: count word-piece-shaped matches
    (letter runs, digit runs, single punctuation) — a regex proxy for
    subword tokenizer counts."""
    c = F.col(col) if isinstance(col, str) else col
    pieces = F.regexp_extract_all(F.lower(c), F.lit(r"[a-z]{1,8}|\d{1,3}|[^a-z0-9\s]"), 0)
    return F.size(pieces)


def lang_votes(col: Column | str, lang: str) -> Column:
    """Stopword vote for one language: number of tokens in its vocabulary.

    Implemented as ONE compiled-regex scan over the normalized text
    (space-anchored alternation with an end lookahead, so a vocabulary hit
    is exactly a whole token) instead of re-tokenizing into an array and
    running an interpreted per-token ``isin`` lambda — the HOF path
    re-evaluated normalize+split per LANGUAGE and measured ~17 s at sf1
    for the 5-language vote; the regex scans are codegen-friendly string
    kernels with identical counts."""
    vocab = LANG_STOPWORDS[lang]
    pat = "(?:^| )(?:" + "|".join(vocab) + ")(?= |$)"
    return F.size(F.regexp_extract_all(normalized_text(col), F.lit(pat), 0))


def detect_language(col: Column | str) -> Column:
    """Heuristic language id: argmax of stopword votes, lexicographic
    tie-break, 'und' when all votes are zero."""
    langs = sorted(LANG_STOPWORDS)
    # sort by (votes desc, lang asc) via negated votes: best = max votes,
    # lexicographically-smallest language among ties
    neg = F.array(
        *[F.struct((-lang_votes(col, l)).alias("nv"), F.lit(l).alias("lang")) for l in langs]
    )
    best = F.array_sort(neg)[0]
    return F.when(best["nv"] < 0, best["lang"]).otherwise(F.lit("und"))


def quality_score(col: Column | str) -> Column:
    """Composite quality score in [0,1]: length factor, alpha ratio,
    stopword presence, punctuation sanity.  Deterministic arithmetic,
    rounded to 6dp for cross-engine equality."""
    c = F.col(col) if isinstance(col, str) else col
    n_chars = F.length(c).cast("double")
    n_alpha = F.length(F.regexp_replace(F.lower(c), r"[^a-z]", "")).cast("double")
    n_punct = F.length(F.regexp_replace(c, r"[^!-/:-@\[-`{-~]", "")).cast("double")
    n_tok = token_count(c).cast("double")
    en_stop = lang_votes(c, "en").cast("double")
    length_factor = F.least(n_chars / F.lit(500.0), F.lit(1.0))
    alpha_ratio = F.when(n_chars > 0, n_alpha / n_chars).otherwise(F.lit(0.0))
    stop_factor = F.when(n_tok > 0, F.least(en_stop / (n_tok * 0.1 + 1e-9), F.lit(1.0))).otherwise(F.lit(0.0))
    punct_sanity = F.when(n_chars > 0, F.lit(1.0) - F.least(n_punct / n_chars * 5, F.lit(1.0))).otherwise(F.lit(0.0))
    return F.round(
        0.3 * length_factor + 0.3 * alpha_ratio + 0.2 * stop_factor + 0.2 * punct_sanity, 6
    )


def fingerprint(col: Column | str, k: int = 8) -> Column:
    """Document fingerprint: minimum md5 digest over k-word shingles — the
    winnowing idea collapsed to window=∞ (one stable fingerprint per doc,
    robust to local edits elsewhere in the doc).  Expression form; for bulk
    scoring prefer :func:`fingerprint_df` (explode + min-agg stays inside
    codegen; nested higher-order funcs don't)."""
    return F.array_min(F.transform(shingles(col, k), lambda s: F.md5(s)))


def fingerprint_df(df: DataFrame, id_col: str, text_col: str, k: int = 8) -> DataFrame:
    """Bulk fingerprinting: window-built shingles + partial min per doc —
    the shuffle carries a single 32-char digest per document."""
    from .dedup import shingles_long

    ex = shingles_long(df, id_col, text_col, k).withColumnRenamed("id", id_col)
    return ex.groupBy(id_col).agg(F.min(F.md5("sh")).alias("fingerprint"))


def text_stats(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """One-projection bundle of the text metrics.  The bundle is regex-
    and hash-heavy per row, so the input fans out to cluster parallelism
    when the scan is narrow (measured 48 -> 3.5 s at sf1)."""
    from ..session import fan_out

    c = F.col(text_col)
    return fan_out(df).select(
        F.col(id_col),
        F.length(c).alias("n_chars"),
        token_count(c).alias("n_tokens"),
        bpe_ish_token_count(c).alias("n_bpe_tokens"),
        detect_language(c).alias("lang_pred"),
        quality_score(c).alias("quality"),
        fingerprint(c).alias("fingerprint"),
    )


def tokens_long(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Long-form tokens (id, tok) — the explode-once base for corpus-level
    statistics (tf-idf, LM scoring).  Empty tokens dropped.

    The normalize+split+explode is CPU-dense per input byte, so a small
    corpus packed into 1-2 scan splits serializes it — fan out to cluster
    parallelism when the scan is narrower (no-op at scale; same guard as
    casting.castability_stats)."""
    from ..session import fan_out

    return fan_out(df).select(
        F.col(id_col).alias("id"),
        F.explode(tokens(text_col)).alias("tok"),
    )


def tfidf_topk(df: DataFrame, id_col: str, text_col: str, k: int = 3,
               round_dp: int = 6) -> DataFrame:
    """Top-k terms per document by tf-idf.

    tf = term count in the doc; idf = ln((N + 1) / (df + 1)) with df =
    number of docs containing the term.  Rank ties break lexicographically
    on the term so the top-k boundary is deterministic.

    Plan shape: one explode feeding TWO aggregations — per-(doc, term)
    counts (shuffle on doc+term) and per-term document frequency (shuffle
    on term, broadcast back: the distinct-term dim is vocabulary-sized,
    far smaller than the corpus).  N is a literal-free scalar joined as a
    one-row broadcast, so nothing here caps corpus size.
    Returns (id, tok, tf, score, rank)."""
    toks = tokens_long(df, id_col, text_col)
    # tf feeds both the scoring join and the document-frequency dim —
    # materialize once so the explode + (doc, term) shuffle can never
    # re-execute per consumption
    tf = session.materialize(toks.groupBy("id", "tok").agg(F.count("*").alias("tf")))
    dfreq = tf.groupBy("tok").agg(F.count("*").alias("df"))
    n_docs = df.agg(F.count("*").alias("_n"))
    scored = (
        # broadcast by construction, not by AQE's estimate: the term-df dim
        # is vocabulary-sized (tok, count), orders of magnitude under the
        # corpus even at 100 TB
        tf.join(F.broadcast(dfreq), "tok")
        .join(F.broadcast(n_docs))
        .withColumn(
            "score",
            F.round(
                F.col("tf").cast("double")
                * F.log((F.col("_n") + 1).cast("double") / (F.col("df") + 1).cast("double")),
                round_dp,
            ),
        )
    )
    w = Window.partitionBy("id").orderBy(F.col("score").desc(), F.col("tok").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rank") <= k)
        .select("id", "tok", "tf", "score", "rank")
    )


def unigram_logprob(df: DataFrame, id_col: str, text_col: str,
                    round_dp: int = 4) -> DataFrame:
    """Unigram language-model score per document: mean ln p(token) under
    the corpus's own unigram distribution — the perplexity-style fluency /
    outlier signal (gibberish and boilerplate both sit far from the
    corpus mean).

    p(tok) = corpus_count(tok) / corpus_total; every token of every doc has
    a count by construction (the model IS the corpus), so the join is
    inner with no smoothing term.  Plan: explode once, aggregate the
    corpus counts (vocabulary-sized dim, broadcast back), then one
    per-doc aggregation.  Returns (id, n_tokens, avg_logprob)."""
    toks = tokens_long(df, id_col, text_col)
    # the vocabulary dim feeds two separate broadcasts (counts + total);
    # materialize it once so the token pass behind it runs once
    counts = session.materialize(toks.groupBy("tok").agg(F.count("*").alias("_cnt")))
    # corpus total = Σ over the vocabulary dim — one-row aggregate of the
    # SMALL side, not a third full pass over the token stream
    total = counts.agg(F.sum("_cnt").alias("_tot"))
    return (
        toks.join(F.broadcast(counts), "tok")
        .join(F.broadcast(total))
        .withColumn(
            "_logp", F.log(F.col("_cnt").cast("double") / F.col("_tot").cast("double"))
        )
        .groupBy("id")
        .agg(
            F.count("*").alias("n_tokens"),
            F.round(F.avg("_logp"), round_dp).alias("avg_logprob"),
        )
    )


def bigram_logprob(df: DataFrame, id_col: str, text_col: str,
                   round_dp: int = 4) -> DataFrame:
    """Bigram language-model score per document: mean ln p(tok | prev)
    under the corpus's own bigram distribution — a sharper fluency signal
    than the unigram model (word salad scores low even when its words are
    common).

    p(tok | prev) = corpus_count(prev, tok) / corpus_count(prev); every
    document bigram has a count by construction (the model IS the corpus),
    so both joins are inner with no smoothing.

    Plan: ONE bigram explode (adjacent-pair zip of the token array — no
    self-join, no window), a (prev, tok) count agg and a prev count agg,
    both vocabulary²-bounded dims broadcast back, then one per-doc agg.
    Docs with < 2 tokens have no bigrams and drop out (the caller
    left-joins if coverage matters).  Returns (id, n_bigrams, avg_logprob).
    """
    # same narrow-scan fan-out as tokens_long: the zip+explode is
    # CPU-dense per input byte
    from ..session import fan_out

    toks = fan_out(df).select(
        F.col(id_col).alias("id"),
        F.filter(F.split(normalized_text(text_col), " "), lambda t: t != "").alias("t"),
    )
    pairs = toks.select(
        "id",
        F.explode(
            F.arrays_zip(
                F.slice(F.col("t"), 1, F.greatest(F.size("t") - 1, F.lit(0))).alias("prev"),
                F.slice(F.col("t"), 2, F.greatest(F.size("t") - 1, F.lit(0))).alias("tok"),
            )
        ).alias("bg"),
    ).select("id", F.col("bg.prev").alias("prev"), F.col("bg.tok").alias("tok"))
    # the bigram dim feeds two separate broadcasts (itself + the context
    # rollup); materialize it once so the pair pass behind it runs once
    bg_counts = session.materialize(pairs.groupBy("prev", "tok").agg(F.count("*").alias("_bg")))
    # context totals roll up from the bigram dim (Σ_tok count(prev,tok) ==
    # count(prev)) — an aggregate over the SMALL side, not a third full
    # pass over the pair stream
    ctx_counts = bg_counts.groupBy("prev").agg(F.sum("_bg").alias("_ctx"))
    return (
        pairs.join(F.broadcast(bg_counts), ["prev", "tok"])
        .join(F.broadcast(ctx_counts), "prev")
        .withColumn(
            "_logp", F.log(F.col("_bg").cast("double") / F.col("_ctx").cast("double"))
        )
        .groupBy("id")
        .agg(
            F.count("*").alias("n_bigrams"),
            F.round(F.avg("_logp"), round_dp).alias("avg_logprob"),
        )
    )


def ngram_diversity(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Per-document n-gram diversity (type-token ratio at n=1 and n=2).

    Low diversity flags templated/boilerplate text a training corpus wants
    down-weighted; the inverse signal of the repetition filters.  Pure
    projection — zero shuffles, whole-stage-codegen-friendly; at 100 TB the
    cost is one narrow scan of the text column.
    """
    d = df.select(F.col(id_col), tokens(text_col).alias("t"))
    n = F.size("t")
    bigrams = F.expr(
        "zip_with(slice(t, 1, greatest(size(t) - 1, 0)),"
        " slice(t, 2, greatest(size(t) - 1, 0)),"
        " (a, b) -> concat(a, ' ', b))"
    )
    return d.select(
        F.col(id_col),
        n.cast("bigint").alias("n_tokens"),
        F.when(
            n > 0, F.round(F.size(F.array_distinct("t")) / n.cast("double"), 6)
        ).alias("ttr"),
        F.when(
            n > 1,
            F.round(
                F.size(F.array_distinct(bigrams)) / (n - 1).cast("double"), 6
            ),
        ).alias("bigram_ttr"),
    )


def bpe_merges(df: DataFrame, text_col: str, rounds: int = 3) -> DataFrame:
    """Distributed BPE tokenizer training (merge discovery): the ``rounds``
    most frequent adjacent symbol pairs, each merged corpus-wide before the
    next round counts.  Returns (merge_round, sym_a, sym_b, pair_count).

    Scale design: the corpus collapses to its DISTINCT-WORD vocabulary with
    frequencies first (the standard BPE trick — all rounds then run on
    |vocab| rows, not |tokens|), checkpointed once.  Each round is one
    narrow (a, b) aggregation over the vocabulary plus a 1-row argmax
    collect (bounded driver traffic, like the k-means round centroids);
    the merge itself is a higher-order left-to-right fold — exact BPE
    non-overlapping semantics — applied lazily and re-checkpointed so the
    plan stays O(1) per round.  Ties break on (count desc, sym_a, sym_b)
    for engine-portable determinism.
    """
    spark = df.sparkSession
    wf = (
        df.select(F.explode(tokens(text_col)).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    chars = F.expr("transform(sequence(1, length(w)), i -> substring(w, i, 1))")
    cur = session.materialize(wf.select("freq", chars.alias("s")))
    out: list[tuple[int, str, str, int]] = []
    for r in range(1, rounds + 1):
        pairs = cur.select(
            "freq",
            F.explode(
                F.arrays_zip(
                    F.expr("slice(s, 1, greatest(size(s) - 1, 0))").alias("a"),
                    F.expr("slice(s, 2, greatest(size(s) - 1, 0))").alias("b"),
                )
            ).alias("p"),
        ).select("freq", F.col("p.a").alias("a"), F.col("p.b").alias("b"))
        top = (
            pairs.groupBy("a", "b")
            .agg(F.sum("freq").alias("cnt"))
            .orderBy(F.desc("cnt"), F.asc("a"), F.asc("b"))
            .limit(1)
            .collect()
        )
        if not top:
            break
        a, b, cnt = top[0]["a"], top[0]["b"], int(top[0]["cnt"])
        out.append((r, a, b, cnt))
        ab = a + b
        # exact left-to-right non-overlapping merge: a fold whose
        # accumulator is the rebuilt sequence ("aaa" + (a,a) -> [aa, a]).
        # F.get (0-based, null out-of-bounds) keeps the empty-accumulator
        # probe ANSI-safe.
        merged = F.aggregate(
            F.col("s"),
            F.expr("cast(array() as array<string>)"),
            lambda acc, x: F.when(
                (F.size(acc) > 0)
                & (F.get(acc, F.size(acc) - 1) == F.lit(a))
                & (x == F.lit(b)),
                F.concat(
                    F.slice(acc, F.lit(1), F.size(acc) - 1), F.array(F.lit(ab))
                ),
            ).otherwise(F.concat(acc, F.array(x))),
        )
        cur = session.materialize(cur.select("freq", merged.alias("s")))
    return spark.createDataFrame(
        out, "merge_round int, sym_a string, sym_b string, pair_count bigint"
    )


def bpe_apply_token_counts(df: DataFrame, id_col: str, text_col: str,
                           merges: list[tuple[str, str]]) -> DataFrame:
    """Apply a learned BPE merge table and count the resulting tokens per
    document — the tokenizer-APPLICATION half of BPE (:func:`bpe_merges`
    is the training half): the op a pipeline runs to cost a corpus in
    tokens, pack sequences, or enforce token budgets.

    Encoding trick that keeps everything a built-in expression chain (no
    Python tokenizer loop): literal ``(``/``)`` in the text are first
    remapped to sentinel chars \\x01/\\x02 (outside any text alphabet, so
    the parens used below are unambiguous delimiters), then every
    non-space character is wrapped as ``(c)``, so a merge of pair (a, b)
    is the plain string replacement ``(a)(b) → (ab)`` — token boundaries
    make cross-token false matches impossible (the wrapped form of
    "xa","b" is ``(xa)(b)``, which never contains ``(a)(b)``), bare
    spaces block cross-word merges, and replace-all per merge IS standard
    BPE application (each merge rewrites every occurrence before the next
    applies).  Merge symbols go through the same remap so a learned merge
    containing a paren still matches.  Token count = count of ``(`` in
    the final form.  Identical `replace`/`translate` semantics exist in
    DuckDB, so the op is oracle-checkable byte-for-byte.

    Scale: one narrow projection per document — zero shuffles, zero UDFs,
    whole-stage-codegen'd string kernels; the merge table (vocabulary-
    sized, thousands at most) is compiled into the expression, the
    Spark-side analogue of broadcasting the tokenizer to every executor.
    Returns (id, n_tokens, n_chars)."""
    from ..operators.dedup import normalized_text

    _remap = {0x28: "\x01", 0x29: "\x02"}  # '(' -> \x01, ')' -> \x02
    s = F.translate(normalized_text(text_col), "()", "\x01\x02")
    s = F.regexp_replace(s, r"([^ ])", r"($1)")
    for a, b in merges:
        a, b = a.translate(_remap), b.translate(_remap)
        s = F.replace(s, F.lit(f"({a})({b})"), F.lit(f"({a}{b})"))
    n_tokens = (
        F.length(s) - F.length(F.replace(s, F.lit("("), F.lit("")))
    ).cast("bigint")
    return df.select(
        F.col(id_col).alias("id"),
        n_tokens.alias("n_tokens"),
        F.length(normalized_text(text_col)).cast("bigint").alias("n_chars"),
    )


def bm25_topk(df: DataFrame, id_col: str, text_col: str,
              query_terms: list[str], k: int = 10, k1: float = 1.2,
              b: float = 0.75, round_dp: int = 6) -> DataFrame:
    """Okapi BM25 retrieval against a fixed query-term set — the sparse
    baseline a curation pipeline uses to pull task-relevant pretraining
    documents (and the classic IR ranking function).

    score(doc) = Σ_t idf(t) · tf·(k1+1) / (tf + k1·(1 − b + b·dl/avgdl)),
    idf(t) = ln(1 + (N − df + 0.5)/(df + 0.5)).

    Plan shape: one explode feeding the (doc, term) counts; doc length
    and the corpus stats (N, avgdl) derive from those counts; the query
    restriction, per-term document frequencies, and the one-row stats all
    BROADCAST back onto the per-doc counts, so the only non-broadcast
    shuffles are the two count aggregations and the final per-corpus
    top-k window.  Ties rank by doc id; the score is rounded in-query so
    the top-k boundary is deterministic across engines (the ~0-probability
    sum-order caveat shared with the LM scoring queries).
    Returns (id, bm25, n_terms_hit, rank)."""
    toks = tokens_long(df, id_col, text_col)
    # (doc, term) counts feed the query restriction AND doc lengths —
    # materialize once (same discipline as tfidf_topk)
    tf = session.materialize(toks.groupBy("id", "tok").agg(F.count("*").alias("tf")))
    dl = tf.groupBy("id").agg(F.sum("tf").cast("bigint").alias("dl"))
    stats = dl.agg(
        F.count("*").cast("bigint").alias("n_docs"), F.avg("dl").alias("avgdl")
    )
    terms = df.sparkSession.createDataFrame(
        [(t,) for t in query_terms], "tok string"
    )
    tfq = tf.join(F.broadcast(terms), "tok")
    dfreq = tfq.groupBy("tok").agg(F.count("*").alias("df"))
    idf = F.log(
        F.lit(1.0)
        + (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5)
    )
    per_term = idf * (
        F.col("tf") * (k1 + 1)
        / (F.col("tf") + k1 * (1 - b + b * F.col("dl") / F.col("avgdl")))
    )
    scored = (
        tfq.join(dl, "id")
        .join(F.broadcast(dfreq), "tok")
        .crossJoin(F.broadcast(stats))
        .groupBy("id")
        .agg(
            F.round(F.sum(per_term), round_dp).alias("bm25"),
            F.count("*").cast("bigint").alias("n_terms_hit"),
        )
    )
    from pyspark.sql.window import Window

    # orderBy+limit plans as TakeOrderedAndProject (per-partition top-k,
    # merged on the driver side of the exchange) — a global row_number
    # window here would instead drag every matched doc through ONE task.
    # The rank window then runs over only the k survivors.
    top = scored.orderBy(F.col("bm25").desc(), F.col("id").asc()).limit(k)
    w = Window.orderBy(F.col("bm25").desc(), F.col("id").asc())
    return top.withColumn("rank", F.row_number().over(w).cast("bigint")).select(
        "id", "bm25", "n_terms_hit", "rank"
    )


def gopher_rules(df: DataFrame, id_col: str, text_col: str,
                 round_dp: int = 4) -> DataFrame:
    """The Gopher document-quality rule bundle (Rae et al. 2021,
    arXiv:2112.11446, Table A1) as one pure-projection pass: word count
    in [50, 100k], mean word length in [3, 10], symbol-to-word ratio
    (# and ellipsis) ≤ 0.1, ≤ 90% bullet-led lines, ≤ 30% ellipsis-ended
    lines, > 80% words containing a letter, and ≥ 2 of the 8 required
    English stop words.

    Every metric is a built-in expression (split/filter/aggregate HOFs —
    no UDF, no shuffle): at 100 TB this is a single narrow scan of the
    text column inside whole-stage codegen.  Rule booleans are computed
    on the UN-rounded rationals (identical doubles in any engine); the
    reported ratios are rounded for display.  Returns one row per doc
    with the metrics, n_rules_failed, and the overall pass flag."""
    toks = F.filter(F.split(normalized_text(text_col), " "), lambda x: x != "")
    lines = F.split(F.col(text_col), "\n")
    n_words = F.size(toks).cast("bigint")
    sum_len = F.aggregate(
        toks, F.lit(0).cast("bigint"), lambda a, x: a + F.length(x)
    )
    n_hash = F.length(F.col(text_col)) - F.length(
        F.regexp_replace(F.col(text_col), r"#", "")
    )
    n_ellip = (
        F.length(F.col(text_col))
        - F.length(F.regexp_replace(F.col(text_col), r"\.\.\.", ""))
    ) / F.lit(3)
    n_lines = F.size(lines).cast("bigint")
    n_bullet = F.size(
        F.filter(
            lines,
            lambda l: F.ltrim(l).startswith("- ")
            | F.ltrim(l).startswith("* ")
            | F.ltrim(l).startswith("•"),
        )
    ).cast("bigint")
    n_ellip_line = F.size(
        F.filter(
            lines,
            lambda l: F.rtrim(l).endswith("...") | F.rtrim(l).endswith("…"),
        )
    ).cast("bigint")
    n_alpha_words = F.size(F.filter(toks, lambda x: x.rlike("[a-z]"))).cast("bigint")
    stops = F.array(*[F.lit(s) for s in
                      ["the", "be", "to", "of", "and", "that", "have", "with"]])
    stop_hits = F.size(F.array_intersect(toks, stops)).cast("bigint")

    mean_len = F.when(n_words > 0, sum_len.cast("double") / n_words.cast("double"))
    symbol_ratio = F.when(
        n_words > 0, (n_hash.cast("double") + n_ellip) / n_words.cast("double")
    )
    bullet_frac = n_bullet.cast("double") / n_lines.cast("double")
    ellip_frac = n_ellip_line.cast("double") / n_lines.cast("double")
    alpha_frac = F.when(
        n_words > 0, n_alpha_words.cast("double") / n_words.cast("double")
    )
    fails = (
        F.when((n_words >= 50) & (n_words <= 100000), 0).otherwise(1)
        + F.when((mean_len >= 3.0) & (mean_len <= 10.0), 0).otherwise(1)
        + F.when(symbol_ratio <= 0.1, 0).otherwise(1)
        + F.when(bullet_frac <= 0.9, 0).otherwise(1)
        + F.when(ellip_frac <= 0.3, 0).otherwise(1)
        + F.when(alpha_frac > 0.8, 0).otherwise(1)
        + F.when(stop_hits >= 2, 0).otherwise(1)
    ).cast("bigint")
    return df.select(
        F.col(id_col),
        n_words.alias("n_words"),
        F.round(mean_len, round_dp).alias("mean_word_len"),
        F.round(symbol_ratio, round_dp).alias("symbol_ratio"),
        F.round(bullet_frac, round_dp).alias("bullet_frac"),
        F.round(ellip_frac, round_dp).alias("ellipsis_frac"),
        F.round(alpha_frac, round_dp).alias("alpha_word_frac"),
        stop_hits.alias("stop_hits"),
        fails.alias("n_rules_failed"),
        (fails == 0).alias("pass_gopher"),
    )


def token_jaccard_topk(df: DataFrame, id_col: str, text_col: str,
                       query_pred, k: int = 10,
                       round_dp: int = 6) -> DataFrame:
    """Per-query lexical ranking by unigram-SET Jaccard: the sparse leg
    a hybrid retriever fuses with an embedding leg (see
    similarity.rrf_fuse).  ``query_pred`` is a Column predicate selecting
    the (small) query document set.

    Plan shape: one distinct-token relation feeds BOTH sides; the query
    side is broadcast onto the corpus side's token stream, so candidate
    generation costs |corpus tokens| with no self-shuffle, and only docs
    sharing >= 1 token with a query ever materialize a pair (inverted-
    index semantics for free).  Scores round before ranking, ties break
    by neighbor id.  Returns (query_id, neighbor_id, jaccard, rank)."""
    dtoks = session.materialize(tokens_long(df, id_col, text_col).distinct())
    sizes = dtoks.groupBy("id").agg(
        F.count(F.lit(1)).cast("bigint").alias("sz")
    )
    qt = dtoks.join(df.filter(query_pred).select(F.col(id_col).alias("id")),
                    "id").select(F.col("id").alias("query_id"), "tok")
    inter = (
        dtoks.withColumnRenamed("id", "neighbor_id")
        .join(F.broadcast(qt), "tok")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .groupBy("query_id", "neighbor_id")
        .agg(F.count(F.lit(1)).cast("bigint").alias("inter"))
    )
    scored = (
        inter.join(sizes.withColumnRenamed("id", "query_id")
                   .withColumnRenamed("sz", "_sq"), "query_id")
        .join(sizes.withColumnRenamed("id", "neighbor_id")
              .withColumnRenamed("sz", "_sn"), "neighbor_id")
        .select(
            "query_id", "neighbor_id",
            F.round(
                F.col("inter")
                / (F.col("_sq") + F.col("_sn") - F.col("inter")).cast("double"),
                round_dp,
            ).alias("jaccard"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("jaccard").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rank") <= k)
    )


def _toks_pos(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    from ..session import fan_out

    return fan_out(df).select(
        F.col(id_col).alias("id"),
        F.posexplode(tokens(text_col)).alias("pos", "tok"),
    )


def bigram_lm_dims(train: DataFrame, id_col: str,
                   text_col: str) -> tuple[DataFrame, DataFrame]:
    """Materialize the two eager reference-bounded LM dims of
    :func:`cross_entropy_score` — (vocab, bigram counts), both
    localCheckpointed — as a separate step.  The build depends ONLY on
    the reference corpus, so a composed pipeline can run it CONCURRENTLY
    with an independent stage (guide §2.6 — submit from a driver thread
    so the dim jobs back-fill executors idled by the other stage's
    stragglers) and inject the result via ``cross_entropy_score``'s
    ``model=``; relations and values are identical either way."""
    ttoks = _toks_pos(train, id_col, text_col)
    vocab = session.materialize(ttoks.select("tok").distinct())
    w = Window.partitionBy("id").orderBy("pos")
    tpairs = ttoks.withColumn("prev", F.lag("tok").over(w)).filter(
        F.col("prev").isNotNull()
    )
    bg = session.materialize(
        tpairs.groupBy("prev", "tok").agg(F.count(F.lit(1)).cast("double").alias("_bg"))
    )
    return vocab, bg


def cross_entropy_score(train: DataFrame, score: DataFrame, id_col: str,
                        text_col: str, round_dp: int = 4,
                        model: tuple[DataFrame, DataFrame] | None = None,
                        ) -> DataFrame:
    """CCNet-style perplexity filtering (Wenzek et al. 2020): train an
    add-one-smoothed bigram LM on a REFERENCE corpus, score a DIFFERENT
    corpus by per-token cross-entropy — the held-out separation the
    self-corpus ``bigram_logprob`` deliberately lacks (there the model
    IS the corpus, so smoothing is unnecessary; here out-of-vocabulary
    tokens map to UNK and unseen bigrams get mass):

        p(tok | prev) = (c(prev,tok) + 1) / (c(prev) + V),   V = |vocab|+1

    Plan: the model is three reference-bounded dims (bigram counts,
    context totals rolled up from them, vocab) that BROADCAST onto the
    scored token stream; OOV mapping is one broadcast left join per
    token; bigrams re-form with one per-doc window lag.  At real scale
    the vocab dim is frequency-capped before broadcast (rare tokens fold
    into UNK anyway) — the standard lever, noted not needed at test
    scale.  ``model`` injects a prebuilt :func:`bigram_lm_dims` pair
    (r13, guide §2.6 stage overlap); by default the dims build here.
    Returns (id, n_bigrams, cross_entropy), LOWER = more fluent under
    the reference model."""
    vocab, bg = model if model is not None else bigram_lm_dims(
        train, id_col, text_col
    )
    v_plus_unk = vocab.agg(
        (F.count(F.lit(1)) + 1).cast("double").alias("_V")
    )
    w = Window.partitionBy("id").orderBy("pos")
    ctx = bg.groupBy("prev").agg(F.sum("_bg").alias("_ctx"))
    stoks = (
        _toks_pos(score, id_col, text_col)
        .join(F.broadcast(vocab.withColumn("_known", F.lit(True))), "tok",
              "left")
        .select(
            "id", "pos",
            F.when(F.col("_known"), F.col("tok"))
            .otherwise(F.lit("\x01UNK")).alias("tok"),
        )
    )
    spairs = stoks.withColumn("prev", F.lag("tok").over(w)).filter(
        F.col("prev").isNotNull()
    )
    logp = F.log(
        (F.coalesce(F.col("_bg"), F.lit(0.0)) + 1.0)
        / (F.coalesce(F.col("_ctx"), F.lit(0.0)) + F.col("_V"))
    )
    return (
        spairs.join(F.broadcast(bg), ["prev", "tok"], "left")
        .join(F.broadcast(ctx), "prev", "left")
        .crossJoin(F.broadcast(v_plus_unk))
        .groupBy("id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_bigrams"),
            F.round(-F.avg(logp), round_dp).alias("cross_entropy"),
        )
    )


def readability_scores(df: DataFrame, id_col: str, text_col: str,
                       round_dp: int = 4) -> DataFrame:
    """Flesch-Kincaid-style readability per document, with a
    deterministic vowel-group syllable proxy (each maximal ``[aeiouy]+``
    run counts one syllable — the standard dictionary-free
    approximation) so both engines count identically via one compiled
    regex scan each; no per-token loop, no UDF.

    grade = 0.39·(words/sentences) + 11.8·(syllables/words) − 15.59
    (the published FK coefficients); sentences = ``[.!?]+`` runs,
    floored at 1 so fragments don't divide by zero.  Integer counts
    cast to double only in the final expression, rounded in-query.
    Returns (id, n_sentences, n_words, n_syllables, fk_grade); docs
    with zero words report NULL fk_grade."""
    c = F.col(text_col) if isinstance(text_col, str) else text_col
    n_sent = F.greatest(
        F.size(F.regexp_extract_all(c, F.lit(r"[.!?]+"), 0)), F.lit(1)
    ).cast("bigint")
    n_words = token_count(c).cast("bigint")
    n_syll = F.size(
        F.regexp_extract_all(F.lower(c), F.lit(r"[aeiouy]+"), 0)
    ).cast("bigint")
    grade = F.round(
        F.lit(0.39) * n_words.cast("double") / n_sent.cast("double")
        + F.lit(11.8) * n_syll.cast("double") / n_words.cast("double")
        - F.lit(15.59),
        round_dp,
    )
    return df.select(
        F.col(id_col).alias("id"),
        n_sent.alias("n_sentences"),
        n_words.alias("n_words"),
        n_syll.alias("n_syllables"),
        F.when(n_words > 0, grade).alias("fk_grade"),
    )
