"""Deduplication operators for training-data pipelines (SURVEY §7.2 step 9).

All variants are shuffle-conscious:

- exact: hash-groupBy on a digest of the normalized text — one shuffle on a
  well-distributed key (md5), no skew.
- minhash/LSH: shingle → per-shingle digest → min-aggregate per (doc, seed)
  → band signature → self-join on band buckets.  Candidate pairs only ever
  meet inside a bucket, so the join is |bucket|²-bounded, not |corpus|².
- simhash: token digests → per-bit weighted vote → fingerprint; near-dup =
  fingerprint hamming distance ≤ k (bucketed by fingerprint for the join).
- n-gram Jaccard: explode shingles → self-join on shingle → per-pair common
  count vs sizes.  Exact but quadratic per shared shingle; use after LSH at
  scale (verification stage).

Portability: digests are md5 hex strings (identical bits in Spark, DuckDB,
Python) so every operator is oracle-checkable.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .. import session


def normalized_text(col: Column | str) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return F.lower(F.regexp_replace(F.trim(c), r"\s+", " "))


def exact_dedup(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Exact dedup: keep the lowest id per normalized-text digest.
    Returns (id, digest, dup_count)."""
    return (
        df.select(F.col(id_col), F.md5(normalized_text(text_col)).alias("digest"))
        .groupBy("digest")
        .agg(
            F.min(id_col).alias("keep_id"),
            F.count(F.lit(1)).alias("dup_count"),
        )
    )


def shingles(col: Column | str, k: int = 5, word: bool = True) -> Column:
    """k-shingles as an array of strings.  Word shingles: sliding window of
    k tokens joined by space (built-ins only: sequence + transform + slice).
    Documents shorter than k tokens yield their full token string."""
    c = F.col(col) if isinstance(col, str) else col
    toks = F.split(normalized_text(c), " ") if word else F.split(c, "")
    n = F.size(toks)
    idx = F.sequence(F.lit(1), F.greatest(n - F.lit(k - 1), F.lit(1)))
    return F.transform(
        idx, lambda i: F.array_join(F.slice(toks, i, k), " ")
    )


def shingles_long(df: DataFrame, id_col: str, text_col: str, k: int = 5) -> DataFrame:
    """(id, sh) long form of k-word shingles via posexplode + window
    collect — measured 4.5× faster than exploding the higher-order-function
    array (HOFs run interpreted and rebuild the token array per row).
    Matches :func:`shingles` semantics: positions 0..max(n-k, 0), so a doc
    shorter than k tokens yields its full token string."""
    from pyspark.sql.window import Window

    from ..session import fan_out

    toks = fan_out(df).select(
        F.col(id_col).alias("id"),
        F.posexplode(F.split(normalized_text(text_col), " ")).alias("pos", "tok"),
    )
    w = Window.partitionBy("id").orderBy("pos").rowsBetween(0, k - 1)
    wn = Window.partitionBy("id")
    return (
        toks.withColumn("sh", F.array_join(F.collect_list("tok").over(w), " "))
        .withColumn("_n", F.count(F.lit(1)).over(wn))
        .filter(F.col("pos") <= F.greatest(F.col("_n") - k, F.lit(0)))
        .select("id", "sh")
    )


def minhash_signature(df: DataFrame, id_col: str, text_col: str,
                      num_hashes: int = 16, k: int = 5) -> DataFrame:
    """MinHash: for seed s, h_s(doc) = min over shingles of md5(s||'|'||shingle)
    (lexicographic min of hex digests — a valid min-wise hash family and
    bit-identical across engines).  Output long form: (id, seed, minhash).

    Plan: explode shingles ONCE, then a single ``groupBy(id)`` computing all
    per-seed minima as separate ``min(md5(seed|sh))`` aggregates — partial
    (map-side) combine means the shuffle carries one narrow row per doc.
    Measured alternatives: per-seed ``array_min(transform(...))`` projections
    recompute the shingle array per seed and drop out of codegen (3× slower);
    exploding seeds too shuffles |shingles|×num_hashes rows."""
    ex = shingles_long(df, id_col, text_col, k)
    mins = [
        F.min(F.md5(F.concat_ws("|", F.lit(str(seed)), F.col("sh")))).alias(f"_mh_{seed}")
        for seed in range(num_hashes)
    ]
    wide = ex.groupBy("id").agg(*mins)
    stack_expr = ", ".join(
        f"CAST({s} AS BIGINT), `_mh_{s}`" for s in range(num_hashes)
    )
    return wide.select(
        "id",
        F.expr(f"stack({num_hashes}, {stack_expr}) as (seed, minhash)"),
    )


def lsh_bands(sig: DataFrame, rows_per_band: int = 4) -> DataFrame:
    """Band the signature: band key = md5(concat of the band's minhashes in
    seed order).  (id, band, band_key)."""
    banded = sig.withColumn("band", (F.col("seed") / rows_per_band).cast("int"))
    return (
        banded.groupBy("id", "band")
        .agg(F.md5(F.concat_ws("|", F.array_sort(F.collect_list(F.concat_ws(":", F.col("seed").cast("string"), F.col("minhash")))))).alias("band_key"))
    )


def lsh_candidate_pairs(
    bands: DataFrame, max_bucket: int | None = None
) -> DataFrame:
    """Self-join bands on (band, band_key) → distinct candidate pairs a<b.
    The join key includes the band index so buckets never cross bands.

    The bands relation (n × n_bands narrow rows) feeds BOTH join sides;
    it materializes once so the minhash subtree behind it (shingle
    explode + per-seed min aggregates) can never re-execute when AQE
    breaks exchange reuse.

    ``max_bucket`` is the 100 TB safety valve: a bucket of m docs emits
    m·(m-1)/2 pairs, so one degenerate key (empty docs, boilerplate) can
    go quadratic on its own.  With a cap, buckets larger than
    ``max_bucket`` are EXCLUDED from pair formation — near-dup relations
    inside them are better recovered by exact-digest dedup (degenerate
    buckets are usually exact-dup families) or a re-banded second pass.
    Dropped buckets are observable via :func:`lsh_bucket_overflow`; cap
    OFF by default so small-scale results stay exact/oracle-checkable."""
    bands = session.materialize(bands)
    if max_bucket is not None:
        # one extra narrow agg on the already-materialized bands relation;
        # broadcast-friendly (overflowing keys are few by construction)
        sizes = bands.groupBy("band", "band_key").agg(
            F.count(F.lit(1)).alias("_bucket_n")
        )
        bands = (
            bands.join(sizes, ["band", "band_key"])
            .filter(F.col("_bucket_n") <= max_bucket)
            .drop("_bucket_n")
        )
    a = bands.alias("a")
    b = bands.alias("b")
    return (
        a.join(b, ["band", "band_key"])
        .filter(F.col("a.id") < F.col("b.id"))
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .distinct()
    )


def lsh_bucket_overflow(bands: DataFrame, max_bucket: int) -> DataFrame:
    """Explicit overflow report for the ``max_bucket`` cap: every bucket
    :func:`lsh_candidate_pairs` would drop, as (band, band_key,
    bucket_size, example_ids) with up to 5 member ids for triage.  Run it
    alongside a capped pair build so truncation is REPORTED, never silent
    — a capped pipeline's output contract is pairs + this relation.

    Scale: a degenerate bucket is by definition huge, so the example ids
    are rank-bounded BEFORE any collect — ``collect_list`` only ever sees
    ≤ 5 rows per bucket (never the full million-member bucket in one
    aggregation buffer)."""
    from pyspark.sql.window import Window

    w = Window.partitionBy("band", "band_key").orderBy("id")
    ranked = bands.select(
        "band", "band_key", "id", F.row_number().over(w).alias("_rk")
    )
    return (
        ranked.groupBy("band", "band_key")
        .agg(
            F.count(F.lit(1)).alias("bucket_size"),
            F.sort_array(
                F.collect_list(F.when(F.col("_rk") <= 5, F.col("id")))
            ).alias("example_ids"),
        )
        .filter(F.col("bucket_size") > max_bucket)
    )


def _pair_overlaps(df: DataFrame, id_col: str, text_col: str, k: int,
                   candidates: DataFrame | None) -> DataFrame:
    """Shared pair-overlap builder for the set-similarity verifiers:
    returns (id_a, id_b, common, na, nb) — distinct-shingle intersection
    size and per-side set sizes for every evaluated pair.

    Two plans:
    - with ``candidates`` (the LSH path): join each candidate pair to the
      two docs' distinct-shingle ARRAYS and compute
      ``size(array_intersect)`` — cost ∝ |candidates|, never corpus².
      (Filtering after a shingle self-join would still pay the quadratic
      popular-shingle blowup before discarding non-candidates.)  The
      semi-join prunes BEFORE building shingle arrays: only docs that
      appear in a candidate pair ever have their arrays consumed
      (measured 1.4× at sf0.1 where 24% of docs are candidates; far more
      at low-dup-density corpus scale).  The candidate subplan appears
      twice but its exchanges are reused.
    - without: discovery mode — shingle self-join over pairs sharing ≥1
      shingle.  Exact but inherently quadratic per shared shingle; use
      the LSH candidates at scale."""
    if candidates is not None:
        # the candidate relation is consumed three times below (two sides of
        # the pair join + the id semi-join); materialize it ONCE so the
        # expensive generation subtree (minhash → bands → bucket self-join)
        # can never replay when exchange reuse fails under AQE.  Candidate
        # pairs are dup-density-sized (≪ corpus), so executor-local
        # checkpoint storage is trivial.  Measured 10.4-11.4 → 8.0-8.5 s
        # on the sf0.1 canonical pipeline (3-rep fresh-JVM A/B).
        candidates = session.materialize(candidates)
        ids = (
            candidates.select(F.col("id_a").alias("__jid"))
            .unionByName(candidates.select(F.col("id_b").alias("__jid")))
            .distinct()
        )
        # the arrays relation feeds BOTH pair-join sides; without
        # materialization its subtree (corpus scan + candidate semi-join
        # + normalize/tokenize/shingle HOF chain) plans and EXECUTES
        # twice.  It is candidate-bounded like the pairs themselves, so
        # materialize it once — one scan + one shingle build per query
        # instead of two (r12; measured on the sf0.1 canonical pipeline).
        arrs = session.materialize(
            df.join(ids, F.col(id_col) == F.col("__jid"), "leftsemi")
            .select(
                F.col(id_col).alias("id"),
                F.array_distinct(shingles(text_col, k)).alias("shs"),
            )
        )
        return (
            candidates.join(
                arrs.select(F.col("id").alias("id_a"), F.col("shs").alias("sa")), "id_a"
            )
            .join(arrs.select(F.col("id").alias("id_b"), F.col("shs").alias("sb")), "id_b")
            .select(
                "id_a",
                "id_b",
                F.size(F.array_intersect("sa", "sb")).alias("common"),
                F.size("sa").alias("na"),
                F.size("sb").alias("nb"),
            )
        )
    sh = shingles_long(df, id_col, text_col, k).distinct()
    sizes = sh.groupBy("id").agg(F.count(F.lit(1)).alias("n_sh"))
    a = sh.alias("a")
    b = sh.alias("b")
    common = (
        a.join(b, "sh")
        .filter(F.col("a.id") < F.col("b.id"))
        .groupBy(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .agg(F.count(F.lit(1)).alias("common"))
    )
    return (
        common.join(
            sizes.withColumnRenamed("id", "id_a").withColumnRenamed("n_sh", "na"),
            "id_a",
        ).join(
            sizes.withColumnRenamed("id", "id_b").withColumnRenamed("n_sh", "nb"),
            "id_b",
        )
    )


def ngram_jaccard_pairs(df: DataFrame, id_col: str, text_col: str, k: int = 5,
                        threshold: float = 0.5,
                        candidates: DataFrame | None = None) -> DataFrame:
    """Exact n-gram Jaccard similarity — |A∩B| / |A∪B| over the shared
    :func:`_pair_overlaps` plans (candidate-fed at scale, shingle
    self-join discovery mode for small/test corpora).  Returns
    (id_a, id_b, jacc) with jacc rounded to 6dp for cross-engine
    equality."""
    ov = _pair_overlaps(df, id_col, text_col, k, candidates)
    return (
        ov.withColumn(
            "jacc",
            F.round(
                F.col("common") / (F.col("na") + F.col("nb") - F.col("common")), 6
            ),
        )
        .filter(F.col("jacc") >= threshold)
        .select("id_a", "id_b", "jacc")
    )


def banded_pairs(df: DataFrame, bits: int, band_width: int,
                 id_col: str = "id", fp_col: str = "fp") -> DataFrame:
    """Generic fingerprint banding: split a ``bits``-wide bigint fingerprint
    into contiguous bands of ``band_width`` bits (the last band takes any
    remainder) and self-join per (band, band value).  Pairs only meet inside
    a bucket — the join is Σ|bucket|²-bounded, never |corpus|².
    Returns distinct (id_a, id_b), id_a < id_b."""
    n_bands = max(bits // band_width, 1)
    bands = []
    for i in range(n_bands):
        start = i * band_width
        width = band_width if i < n_bands - 1 else bits - start
        mask = (1 << width) - 1
        bands.append(
            F.struct(
                F.lit(i).alias("band"),
                F.expr(f"(fp_ >> {start}) & {mask}").alias("bval"),
            )
        )
    banded = (
        df.select(F.col(id_col).alias("id"), F.col(fp_col).alias("fp_"))
        .select("id", F.explode(F.array(*bands)).alias("b"))
        .select("id", F.col("b.band").alias("band"), F.col("b.bval").alias("bval"))
    )
    a = banded.alias("a")
    b = banded.alias("b")
    return (
        a.join(b, ["band", "bval"])
        .filter(F.col("a.id") < F.col("b.id"))
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .distinct()
    )


def simhash_band_pairs(fingerprints: DataFrame, bits: int = 60,
                       max_hamming: int = 3, id_col: str = "id",
                       fp_col: str = "simhash") -> DataFrame:
    """SimHash near-dup pairs WITHOUT the all-pairs crossJoin: band the
    fingerprint into ``max_hamming + 1`` bands — by pigeonhole, two
    fingerprints within hamming ≤ max_hamming agree exactly on at least one
    band — so the banded join is EXACT (identical result to brute force),
    while pairs only ever meet inside a (band, band value) bucket.
    Returns (id_a, id_b, hamming).

    Scale: spurious bucket-mates are Σ_bands n²/2^band_width.  The defaults
    (60-bit fingerprint, hamming ≤ 3 → 4 bands × 15 bits) keep that at
    n²/32768 per band; raising max_hamming narrows the bands and the cost
    grows by 2^(lost bits) — at corpus scale prefer widening the fingerprint
    over loosening the threshold."""
    n_bands = max_hamming + 1
    # (id, fp) is two narrow columns but its subtree is the wide packed
    # simhash aggregate — consumed 4× below (both band sides + both
    # hamming sides); materialize once
    fingerprints = session.materialize(fingerprints)
    cand = banded_pairs(fingerprints, bits=bits, band_width=bits // n_bands,
                        id_col=id_col, fp_col=fp_col)
    fa = fingerprints.select(F.col(id_col).alias("id_a"), F.col(fp_col).alias("_fa"))
    fb = fingerprints.select(F.col(id_col).alias("id_b"), F.col(fp_col).alias("_fb"))
    return (
        cand.join(fa, "id_a")
        .join(fb, "id_b")
        .withColumn("hamming", F.bit_count(F.expr("_fa ^ _fb")).cast("bigint"))
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


def connected_components(vertices: DataFrame, edges: DataFrame,
                         max_iter: int = 25,
                         stats: dict | None = None) -> DataFrame:
    """Min-label propagation over undirected edges until fixpoint:
    canonical_id(v) = min id in v's connected component.  The transitive
    closure of one-step near-dup canonicalization.

    Iterative algorithm on Spark (Pregel-style): each round joins labels to
    the symmetrized edge list and takes the min neighbor label; the ONLY
    driver-side value is the scalar changed-count used for convergence.
    Rounds needed = component diameter (near-dup clusters: a handful).
    Each round's result is localCheckpointed to keep the plan from growing
    unboundedly across iterations.

    Pass ``stats={}`` to receive per-round convergence evidence:
    ``stats["label_changes"]`` is the number of vertices whose label
    improved in each round (monotonically shrinking toward 0) and
    ``stats["converged"]`` whether the fixpoint was reached — the measured
    justification for ``max_iter`` rather than an assumed diameter bound.
    The counts are scalars from the already-checkpointed round result, so
    the metric adds no extra shuffle."""
    # materialize the symmetrized edge list ONCE: it is joined in EVERY
    # round, and without this the whole upstream edge-building subtree
    # (minhash → LSH → verify when fed from the dedup pipeline) would
    # replay per round — measured 64 s → 23 s cold at sf1 for
    # dedup_cluster_size_histogram (diameter rounds × a ~10 s subtree)
    # r12 (guide §2.4, the pagerank discipline): partition the edge list
    # by the per-round join key BEFORE the checkpoint — LogicalRDD keeps
    # the hash partitioning, so every round's ``sym.dst == labels.id``
    # join reuses it instead of re-exchanging the edge list once per
    # round (diameter rounds × one |2·edges| shuffle saved).
    sym = session.materialize(
        edges.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst")).unionByName(
            edges.select(F.col("id_b").alias("src"), F.col("id_a").alias("dst"))
        ).repartition("dst")
    )
    labels = vertices.select(F.col(vertices.columns[0]).alias("id")).withColumn(
        "label", F.col("id")
    )
    if stats is not None:
        stats["label_changes"] = []
        stats["converged"] = False
    for _ in range(max_iter):
        neighbor_min = (
            sym.join(labels, sym.dst == labels.id)
            .groupBy("src")
            .agg(F.min("label").alias("nmin"))
        )
        new_labels = (
            labels.join(neighbor_min, labels.id == neighbor_min.src, "left")
            .select(
                "id",
                F.least(F.col("label"), F.coalesce(F.col("nmin"), F.col("label"))).alias("label"),
                (F.col("nmin") < F.col("label")).alias("_changed"),
            )
        )
        new_labels = session.materialize(new_labels)
        changed = new_labels.filter(F.col("_changed")).count()
        if stats is not None:
            stats["label_changes"].append(changed)
        labels = new_labels.drop("_changed")
        if changed == 0:
            if stats is not None:
                stats["converged"] = True
            break
    else:
        # max_iter rounds exhausted before the fixpoint: a component with
        # diameter > max_iter would get wrong canonical ids — say so loudly.
        import warnings

        warnings.warn(
            f"connected_components did not converge in {max_iter} rounds; "
            "labels may be non-canonical for components with diameter "
            f"> {max_iter}. Raise max_iter.",
            RuntimeWarning,
            stacklevel=2,
        )
    return labels.select(F.col("id"), F.col("label").alias("canonical_id"))


def simhash(df: DataFrame, id_col: str, text_col: str, bits: int = 60) -> DataFrame:
    """SimHash fingerprint over word tokens.  Per token, a ``bits``-wide
    digest from the first hex chars of md5; each bit votes ±1 weighted by
    term frequency; fingerprint bit = sign of the vote.  Returns
    (id, simhash bigint).

    Default 60 bits (15 hex chars — stays exact in a signed 64-bit int in
    both engines).  Width is what makes banded pairing scale: with b-bit
    bands, random collisions are n²/2^b per band, so 15-bit bands (60/4)
    give 32768× fewer spurious bucket-mates than the 5-bit bands a 16-bit
    fingerprint forces.  ``bits ≤ 60`` required."""
    if bits > 60:
        raise ValueError("bits > 60 overflows the signed-bigint fingerprint")
    from ..session import fan_out

    hex_chars = (bits + 3) // 4
    toks = fan_out(df).select(
        F.col(id_col).alias("id"),
        F.explode(F.split(normalized_text(text_col), " ")).alias("tok"),
    ).filter(F.col("tok") != "")
    hashed = toks.withColumn(
        "h",
        F.conv(F.substring(F.md5("tok"), 1, hex_chars), 16, 10).cast("bigint")
        % (2 ** bits),
    )
    # Packed vote counters: 3 bit-positions share one bigint aggregate, each
    # in a 21-bit field accumulating that bit's ones-count (sum of the ±1
    # votes is recoverable as 2*ones - n).  vs one aggregate per bit this is
    # 3× fewer aggregation buffers and branch-free row expressions, while the
    # vote pass still stays at |token rows| (never |tokens| × bits).  Field
    # capacity is 2^21-1 tokens per document; three maxed fields sum to
    # exactly 2^63-1, so the packing cannot overflow signed bigint.  Docs
    # beyond the cap get a NULL fingerprint (explicit, never silently wrong).
    field_w = 21
    per_agg = 63 // field_w  # 3 fields per bigint
    # the 3 adjacent bits feeding one accumulator spread to their 21-bit
    # fields through an 8-entry literal LUT: one shift+mask+array-index per
    # accumulator per row (vs 3 shift/mask/shift/add chains), which also
    # shrinks the generated code ~3x — measured ~1s less compile+run in a
    # one-shot bench position, identical fingerprints
    lut = [
        (v & 1) | (((v >> 1) & 1) << field_w) | (((v >> 2) & 1) << (2 * field_w))
        for v in range(1 << per_agg)
    ]
    arr = F.array(*[F.lit(x).cast("bigint") for x in lut])
    packed = []
    for gi in range(0, bits, per_agg):
        idx = F.shiftright(F.col("h"), gi).bitwiseAND(F.lit((1 << per_agg) - 1))
        packed.append(F.sum(F.element_at(arr, idx.cast("int") + F.lit(1))).alias(f"_p{gi}"))
    agg = hashed.groupBy("id").agg(F.count(F.lit(1)).alias("_n"), *packed)
    mask = (1 << field_w) - 1
    n_groups = (bits + per_agg - 1) // per_agg
    # Fingerprint reconstruction as a nested higher-order aggregate (a
    # loop over groups × fields) instead of 60 inlined shift/mask/compare
    # terms: same arithmetic bit for bit — disjoint powers of two summed —
    # but the generated code is two tight loops, not a 60-term expression
    # tree, which roughly halves the one-shot codegen+JIT cost the bench
    # position pays (warm per-run time is unchanged; the reconstruction
    # runs on |docs| rows, not |tokens|).
    agg = agg.withColumn(
        "_parr", F.array(*[F.col(f"_p{gi}") for gi in range(0, bits, per_agg)])
    )
    fp = F.expr(
        f"aggregate(sequence(0, {n_groups - 1}), cast(0 as bigint), (acc, g) -> "
        f"acc + aggregate(sequence(0, {per_agg - 1}), cast(0 as bigint), (a2, j) -> "
        f"a2 + (case when g * {per_agg} + j < {bits} and "
        f"(shiftright(element_at(_parr, g + 1), {field_w} * j) & {mask}) * 2 > _n "
        f"then shiftleft(cast(1 as bigint), g * {per_agg} + j) "
        f"else cast(0 as bigint) end)))"
    )
    fp = F.when(F.col("_n") < F.lit(1 << field_w), fp)
    return agg.select("id", fp.alias("simhash"))


# ---------------------------------------------------------------------------
# edit-distance near-dup pairs (blocked fuzzy matching)
# ---------------------------------------------------------------------------


def levenshtein_block_pairs(df: DataFrame, id_col: str, text_col: str,
                            block_chars: int = 12, cmp_chars: int = 80,
                            max_dist: int = 8) -> DataFrame:
    """Edit-distance near-duplicate pairs with prefix blocking: normalize,
    block on the first ``block_chars`` characters, and compute Levenshtein
    only within a block over a ``cmp_chars`` prefix.

    Returns (id_a, id_b, lev) with id_a < id_b and lev ≤ ``max_dist``.

    Scale shape: the self-join meets ONLY inside a (prefix) block —
    Σ|block|² pairs, never corpus² — and the distance runs over bounded
    prefixes so per-pair cost is O(cmp_chars²) regardless of document
    length.  Blocking is a recall dial (an edit inside the block prefix
    moves the row to another block); compose with ``lsh_candidate_pairs``
    for shingle-based recall on prefix-divergent near-dups.
    """
    c = normalized_text(F.col(text_col))
    d = df.select(
        F.col(id_col).alias("_id"),
        F.substring(c, 1, cmp_chars).alias("_t"),
        F.substring(c, 1, block_chars).alias("_blk"),
    )
    a = d.select(
        F.col("_id").alias("id_a"), F.col("_t").alias("_ta"), "_blk"
    )
    b = d.select(
        F.col("_id").alias("id_b"), F.col("_t").alias("_tb"), "_blk"
    )
    return (
        a.join(b, "_blk")
        .filter(F.col("id_a") < F.col("id_b"))
        # 3-arg levenshtein runs the BANDED O(len·max_dist) algorithm and
        # returns -1 above the bound — ~cmp_chars/max_dist less work per
        # pair than the full O(len²) table (sf1: 56 s → ~8 s); kept pairs
        # carry the identical exact distance, so the oracle is unchanged
        .withColumn(
            "lev",
            F.levenshtein(F.col("_ta"), F.col("_tb"), max_dist).cast("bigint"),
        )
        .filter((F.col("lev") >= 0) & (F.col("lev") <= max_dist))
        .select("id_a", "id_b", "lev")
    )


def ngram_containment_pairs(df: DataFrame, id_col: str, text_col: str,
                            k: int = 5, threshold: float = 0.5,
                            candidates: DataFrame | None = None) -> DataFrame:
    """Exact n-gram CONTAINMENT: |A∩B| / min(|A|, |B|) — the
    quote/subset-duplication metric Jaccard misses (a short doc fully
    embedded in a long one has high containment but low Jaccard, because
    the union is dominated by the long doc).

    Returns (id_a, id_b, containment) rounded to 6dp.  Same two plans as
    :func:`ngram_jaccard_pairs` via the shared :func:`_pair_overlaps`
    builder: candidate-fed (cost ∝ |candidates|, arrays built only for
    candidate docs) or discovery-mode shingle self-join for small/test
    corpora."""
    ov = _pair_overlaps(df, id_col, text_col, k, candidates)
    return (
        ov.withColumn(
            "containment",
            F.round(F.col("common") / F.least(F.col("na"), F.col("nb")), 6),
        )
        .filter(F.col("containment") >= threshold)
        .select("id_a", "id_b", "containment")
    )


# ---------------------------------------------------------------------------
# incremental dedup (new batch vs existing corpus)
# ---------------------------------------------------------------------------


def incremental_dedup(df: DataFrame, id_col: str, text_col: str,
                      is_new: Column, num_hashes: int = 4, k: int = 3,
                      rows_per_band: int = 2) -> DataFrame:
    """Dedup a NEW ingest batch against the EXISTING corpus — the
    continuous-ingest shape: per new document, its exact-duplicate owner in
    the existing corpus (if any) plus its LSH near-dup candidate count and
    lowest-id candidate.  Returns
    (id, exact_match_id, n_near_candidates, first_candidate_id).

    Scale design: candidates only form across the batch boundary — new
    bands join existing bands on (band, band_key), so cost is
    Σ|bucket_new|×|bucket_old|, proportional to the BATCH, never corpus².
    The exact path is one digest-keyed join against a min-id digest dim.
    Here both sides' signatures compute in one shared scan for a
    self-contained query; in production the existing corpus's digests and
    band keys are a materialized index (bucketed by digest/band_key) that
    ingest batches join against without rescanning the corpus.
    """
    flags = session.materialize(
        df.select(
            F.col(id_col).alias("id"),
            is_new.alias("_new"),
            F.md5(normalized_text(text_col)).alias("digest"),
        )
    )
    sig = minhash_signature(df, id_col, text_col, num_hashes=num_hashes, k=k)
    bands = lsh_bands(sig, rows_per_band=rows_per_band).join(
        flags.select("id", "_new"), "id"
    )
    old_dig = (
        flags.filter(~F.col("_new"))
        .groupBy("digest")
        .agg(F.min("id").alias("exact_match_id"))
    )
    exact = (
        flags.filter(F.col("_new"))
        .join(old_dig, "digest", "left")
        .select("id", "exact_match_id")
    )
    cand = (
        bands.filter(F.col("_new")).alias("n")
        .join(
            bands.filter(~F.col("_new")).alias("o"),
            (F.col("n.band") == F.col("o.band"))
            & (F.col("n.band_key") == F.col("o.band_key")),
        )
        .select(F.col("n.id").alias("id"), F.col("o.id").alias("old_id"))
        .distinct()
    )
    near = cand.groupBy("id").agg(
        F.count(F.lit(1)).alias("n_near_candidates"),
        F.min("old_id").alias("first_candidate_id"),
    )
    return exact.join(near, "id", "left").select(
        "id",
        "exact_match_id",
        F.coalesce("n_near_candidates", F.lit(0)).cast("bigint").alias(
            "n_near_candidates"
        ),
        "first_candidate_id",
    )


# ---------------------------------------------------------------------------
# exact set-similarity join via prefix filtering (PPJoin-style)
# ---------------------------------------------------------------------------


def jaccard_prefix_pairs(df: DataFrame, id_col: str, text_col: str,
                         k: int = 3, threshold: float = 0.8) -> DataFrame:
    """EXACT Jaccard similarity join without LSH's false negatives: prefix
    filtering.  Under a global shingle ordering (rarity-first: ascending
    corpus frequency, shingle text as tie-break), two sets with
    Jaccard ≥ τ must share at least one shingle within each set's first
    ``n - ceil(τ·n) + 1`` shingles — so candidates form only on PREFIX
    shingles, and the verify pass is candidate-fed.  Returns
    (id_a, id_b, jacc ≥ threshold), identical to the brute-force join.

    Scale: rarity-first ordering puts the LONG tail of near-unique shingles
    in the prefixes, so prefix buckets are tiny (Σ|bucket|² collapses);
    the stop-word-like head shingles that would explode a plain
    shingle-self-join are excluded from every prefix at high τ.  One
    frequency aggregate + one per-doc rank window + the bounded verify.
    The AllPairs LENGTH FILTER prunes inside each bucket: Jaccard ≥ τ
    forces τ·|a| ≤ |b| ≤ |a|/τ, so bucket-mates with incompatible
    distinct-shingle counts never become candidates — order-controlled
    A/B on the near-dup-saturated sf1 probe: optimized 33 s cold / 18 s
    warm vs 53 s for the unfiltered form warm, identical output — and
    the prefix relation (narrow, its subtree = the freq join + rank
    window) materializes once at its self-join entry per the repo-wide
    checkpoint discipline.  Complements LSH: exact recall when the
    threshold is high and misses are unacceptable (e.g. legal/compliance
    dedup)."""
    from pyspark.sql.window import Window

    dsh = shingles_long(df, id_col, text_col, k).distinct()
    dsh = session.materialize(dsh)  # feeds freq + rank + both verify sides
    freq = dsh.groupBy("sh").agg(F.count(F.lit(1)).alias("_f"))
    w = Window.partitionBy("id").orderBy("_f", "sh")
    wn = Window.partitionBy("id")
    ranked = dsh.join(freq, "sh").select(
        "id", "sh",
        F.row_number().over(w).alias("_pos"),
        F.count(F.lit(1)).over(wn).alias("_n"),
    )
    prefix = session.materialize(
        ranked.filter(
            F.col("_pos")
            <= F.col("_n") - F.ceil(F.lit(threshold) * F.col("_n")) + 1
        ).select("id", "sh", "_n")
    )
    cand = (
        prefix.alias("a")
        .join(
            prefix.alias("b"),
            (F.col("a.sh") == F.col("b.sh"))
            & (F.col("a.id") < F.col("b.id"))
            # length filter: |b| within [τ·|a|, |a|/τ] — exact-result safe
            & (F.col("b._n") >= F.ceil(F.lit(threshold) * F.col("a._n")))
            & (F.col("a._n") >= F.ceil(F.lit(threshold) * F.col("b._n"))),
        )
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .distinct()
    )
    return ngram_jaccard_pairs(
        df, id_col, text_col, k=k, threshold=threshold, candidates=cand
    )


def substring_anchors(df: DataFrame, id_col: str, text_col: str,
                      gram: int = 40, hex_chars: int = 15) -> DataFrame:
    """Every ``gram``-char window of every document as a narrow
    (id, pos, h) anchor relation — the building block of exact
    duplicated-substring detection (the distributed re-expression of the
    suffix-array dedup of Lee et al. 2022, "Deduplicating Training Data
    Makes Language Models Better").

    ``h`` is the first ``hex_chars`` hex digits of the window's md5 as a
    bigint (60 bits at the default) so the downstream shuffle key is 8
    bytes, not a 32-char digest string; at 13M anchors/sf1 the collision
    expectation is ~1e-5 windows and a collision can only create a
    false anchor pair, which the diagonal-islands merge then reports as a
    (gram-length) span — the same practical-exactness tradeoff the other
    md5-keyed paths in this module take.  ``pos`` is an INT (r13, guide
    §2.3 narrower types): a document offset always fits 32 bits long
    before a single text column blows other limits, and the anchor
    relation is shuffled/sorted/materialized whole, so 4 bytes per row
    off the widest relation in the repo; consumers that surface
    positions cast back to the bigint output contract.  Documents
    shorter than ``gram`` emit nothing (``sequence`` would otherwise
    count DOWNWARD for a negative span — ANSI-mode footgun).

    Scale: one scan, one explode, no shuffle; the per-row ``sequence``
    array is bounded by document length and consumed lazily by the
    generator, so anchors stream out at O(total_chars) narrow rows."""
    t = df.select(
        F.col(id_col).alias("id"), F.col(text_col).alias("t")
    ).filter(F.length("t") >= gram)
    # the explode+md5 pass is CPU-dense per input byte and the caller
    # localCheckpoints its output (which PINS partitioning): a small
    # documents file arriving in 1-2 scan splits would serialize the
    # whole pass — fan out to cluster parallelism first (no-op at scale,
    # where inputs arrive with >= parallelism splits)
    from ..session import fan_out

    t = fan_out(t)
    return t.select(
        "id",
        F.explode(
            F.sequence(F.lit(0), F.length("t") - gram)
        ).alias("pos"),
        F.col("t"),
    ).select(
        "id",
        "pos",
        F.conv(
            F.substring(
                F.md5(F.col("t").substr(F.col("pos") + F.lit(1), F.lit(gram))),
                1,
                hex_chars,
            ),
            16,
            10,
        )
        .cast("bigint")
        .alias("h"),
    )


def duplicate_span_pairs(df: DataFrame, id_col: str, text_col: str,
                         gram: int = 40, max_bucket: int | None = None) -> DataFrame:
    """Maximal exactly-duplicated cross-document substrings of length >=
    ``gram``: the exact-substring dedup of Lee et al. 2022, re-expressed
    as three relational passes instead of a monolithic suffix array —

    1. anchor every ``gram``-char window by content hash
       (:func:`substring_anchors`);
    2. bucket-join anchors on the hash (id_a < id_b) — matching windows
       at positions (pa, pb) witness a shared ``gram``-length substring;
    3. merge runs of adjacent witnesses into MAXIMAL spans: windows
       (pa, pb) and (pa+1, pb+1) extend the same duplicated region, so
       within one (id_a, id_b, diag = pb - pa) alignment diagonal the
       witnesses form gaps-and-islands over pa — one window pass
       (island = pa - row_number) and one groupBy emit each island as a
       span of length count + gram - 1.

    Returns (id_a, id_b, start_a, start_b, span_len), 0-based starts,
    one row per maximal span per alignment diagonal.

    Scale shape: pass 2 is the standard Σ|bucket|² exposure — random
    text keeps buckets tiny, boilerplate makes them quadratic, so
    ``max_bucket`` excludes anchors whose hash bucket exceeds the cap
    (same explicit valve + observability contract as
    :func:`lsh_candidate_pairs`; capped buckets are exact-dup/boilerplate
    families better handled by exact dedup).  Pass 3 shuffles once on
    the (id_a, id_b, diag) diagonal key, which is |matches|-bounded.
    The anchor relation feeds both join sides and materializes once."""
    from pyspark.sql.window import Window

    # r13 NOTE — pair-producing-bucket PRE-FILTER tried and REJECTED on
    # measurement (guide §1.1's "the ideal plan is usually slower at
    # first", settled empirically): dropping anchors whose hash bucket
    # cannot form a cross-doc pair (min(id) = max(id) per h) before the
    # self-join prunes 91% of sf0.1 anchors, but every phrasing of the
    # by-h decision costs a full pass the join doesn't need —
    #   · groupBy(h)+merge-semi-join: a SECOND corpus-sized exchange
    #     (the agg branch shuffles partial-agg rows; ReuseExchange
    #     cannot dedupe them against the raw side),
    #   · window-over-h + survivor checkpoint: one exchange + one sort
    #     + a near-full re-materialization —
    # and the interleaved A/Bs read 1.0–1.26× at sf0.1 (3-rep best:
    # spans 5.34→6.38 s, coverage 3.29→4.14 s) and 1.45–1.50× at sf1,
    # where the generator's planted near-dups leave the filter only
    # 1.4% to prune (13.22M → 13.04M anchors).  The self-join's two
    # sorted exchanges over the narrow (id, pos:int, h) relation remain
    # the cheapest exact shape at every measured scale.
    anchors = session.materialize(substring_anchors(df, id_col, text_col, gram))
    # SCALE HAZARD (found at sf10, r9): localCheckpoint REPLACES the plan
    # with a LogicalRDD whose size estimate comes from the in-memory
    # block accounting — measured 1.8 MB for 13.2M anchor rows at sf1 —
    # so the planner happily BROADCASTS this data-sized relation into
    # its own self-join and the build collect detonates
    # spark.driver.maxResultSize (2 GiB of task results at sf10).  Pin
    # the join to sort-merge: the anchors relation may never broadcast,
    # and shuffle_hash was tried and ALSO dies at sf10 ("Can't acquire
    # 268435456 bytes memory to build hash relation" — 132M anchors /
    # 32 partitions is a >100 MB per-task build even before a hot
    # bucket).  SMJ is the only strategy of the three that spills, i.e.
    # the only one whose failure mode at 100 TB is slowness, not an
    # error; at sf1 its steady state matches the old broadcast
    # (interleaved: 10.2 s vs 10.9 s; only the cold rep is slower).
    if max_bucket is not None:
        sizes = anchors.groupBy("h").agg(F.count(F.lit(1)).alias("_n"))
        anchors = (
            anchors.join(sizes.hint("merge"), "h")
            .filter(F.col("_n") <= max_bucket).drop("_n")
        )
    a = anchors.select(F.col("id").alias("id_a"), F.col("pos").alias("pa"), "h")
    b = anchors.select(F.col("id").alias("id_b"), F.col("pos").alias("pb"), "h")
    m = a.join(b.hint("merge"), "h").filter(F.col("id_a") < F.col("id_b"))
    return _diagonal_spans(m, gram)


def _diagonal_spans(matches: DataFrame, gram: int) -> DataFrame:
    """Shared islands merge for the substring-dedup family: collapse
    anchor witnesses (id_a, id_b, pa, pb) into maximal spans along each
    (id_a, id_b, pb - pa) alignment diagonal.  One |matches|-bounded
    shuffle on the diagonal key."""
    from pyspark.sql.window import Window

    m = matches.select(
        "id_a", "id_b", "pa", "pb", (F.col("pb") - F.col("pa")).alias("diag")
    )
    w = Window.partitionBy("id_a", "id_b", "diag").orderBy("pa")
    islands = m.withColumn(
        "grp", F.col("pa") - F.row_number().over(w).cast("bigint")
    )
    return (
        islands.groupBy("id_a", "id_b", "diag", "grp")
        .agg(
            # positions travel as INT (substring_anchors, r13) — the
            # output contract stays BIGINT, cast at the surface only
            F.min("pa").cast("bigint").alias("start_a"),
            F.min("pb").cast("bigint").alias("start_b"),
            (F.count(F.lit(1)) + F.lit(gram - 1)).cast("bigint").alias("span_len"),
        )
        .select("id_a", "id_b", "start_a", "start_b", "span_len")
    )


def cross_duplicate_spans(corpus: DataFrame, benchmark: DataFrame,
                          id_col: str, text_col: str, gram: int = 40,
                          max_bucket: int | None = None,
                          broadcast_benchmark: bool = True) -> DataFrame:
    """Maximal exactly-duplicated substrings BETWEEN two corpora — the
    benchmark-decontamination use of suffix-array dedup (Lee et al. 2022
    cut every >=50-token span a training document shared with an eval
    set).  Same anchor/bucket-join/diagonal-islands machinery as
    :func:`duplicate_span_pairs`, but the two sides come from different
    frames, so no id ordering filter applies and the id namespaces may
    overlap freely.

    Returns (id_a = corpus doc, id_b = benchmark doc, start_a, start_b,
    span_len).

    Scale shape: held-out benchmarks are small by construction, so the
    benchmark anchor relation broadcasts (``broadcast_benchmark``) and
    the corpus side streams map-side — the only shuffle is the
    |matches|-bounded diagonal merge.  ``max_bucket`` caps CORPUS-side
    bucket sizes (boilerplate grams), same valve contract as
    :func:`duplicate_span_pairs`."""
    a = substring_anchors(corpus, id_col, text_col, gram)
    if max_bucket is not None:
        # post-checkpoint stats are bogus-small (see duplicate_span_pairs):
        # pin the data-sized sizes join to sort-merge so it can't broadcast
        # (and can spill, unlike shuffle_hash — the sf10 lesson)
        a = session.materialize(a)
        sizes = a.groupBy("h").agg(F.count(F.lit(1)).alias("_n"))
        a = (
            a.join(sizes.hint("merge"), "h")
            .filter(F.col("_n") <= max_bucket).drop("_n")
        )
    b = substring_anchors(benchmark, id_col, text_col, gram)
    if broadcast_benchmark:
        b = F.broadcast(b)
    m = (
        a.select(F.col("id").alias("id_a"), F.col("pos").alias("pa"), "h")
        .join(b.select(F.col("id").alias("id_b"), F.col("pos").alias("pb"), "h"), "h")
    )
    return _diagonal_spans(m, gram)


def _merge_intervals(iv: DataFrame) -> DataFrame:
    """Sweep-line union of per-doc half-open intervals (id, s, e) →
    disjoint merged intervals (id, s, e).  A new island starts where s
    exceeds the running max e over preceding rows; one window + one
    groupBy, both partitioned by doc id."""
    from pyspark.sql.window import Window

    w = Window.partitionBy("id").orderBy("s", "e")
    prev_max_e = F.max("e").over(w.rowsBetween(Window.unboundedPreceding, -1))
    flagged = iv.withColumn(
        "new_island",
        F.when(F.col("s") > F.coalesce(prev_max_e, F.lit(-1)), 1).otherwise(0),
    )
    return (
        flagged.withColumn(
            "island",
            F.sum("new_island").over(w.rowsBetween(Window.unboundedPreceding, 0)),
        )
        .groupBy("id", "island")
        .agg(F.min("s").alias("s"), F.max("e").alias("e"))
        .select("id", "s", "e")
    )


def duplicated_char_coverage(df: DataFrame, id_col: str, text_col: str,
                             gram: int = 40, max_bucket: int | None = None,
                             round_dp: int = 6,
                             spans: DataFrame | None = None) -> DataFrame:
    """Per-document duplicated-character coverage: the fraction of each
    document covered by some exact cross-document duplicated span of
    length >= ``gram`` — the per-doc deliverable of suffix-array dedup
    (Lee et al. 2022 cut such spans; a curation pipeline filters or
    trims on this fraction).

    Span intervals from :func:`duplicate_span_pairs` (both endpoints of
    every pair) are UNION-MERGED per document with the classic
    sweep-line islands pass — sort by (start, end), a new island starts
    where start exceeds the running max end over preceding rows — so
    overlapping spans from different partners never double-count.
    Returns (id, dup_chars, n_chars, dup_frac) for EVERY document
    (0 coverage included).

    Scale: interval rows are |spans|·2-bounded; the merge is one window
    + one groupBy partitioned by doc id, and the final join against the
    doc-length projection is by id."""
    from pyspark.sql.window import Window

    if spans is None:
        spans = duplicate_span_pairs(df, id_col, text_col, gram, max_bucket)
    iv = (
        spans.select(
            F.col("id_a").alias("id"),
            F.col("start_a").alias("s"),
            (F.col("start_a") + F.col("span_len")).alias("e"),
        )
        .unionByName(
            spans.select(
                F.col("id_b").alias("id"),
                F.col("start_b").alias("s"),
                (F.col("start_b") + F.col("span_len")).alias("e"),
            )
        )
        .distinct()
    )
    cov = (
        _merge_intervals(iv)
        .select("id", (F.col("e") - F.col("s")).alias("covered"))
        .groupBy("id")
        .agg(F.sum("covered").alias("dup_chars"))
    )
    docs = df.select(
        F.col(id_col).alias("id"), F.length(text_col).cast("bigint").alias("n_chars")
    )
    return docs.join(cov, "id", "left").select(
        "id",
        F.coalesce("dup_chars", F.lit(0)).cast("bigint").alias("dup_chars"),
        "n_chars",
        F.round(
            F.when(
                F.col("n_chars") > 0,
                F.coalesce("dup_chars", F.lit(0)) / F.col("n_chars"),
            ).otherwise(F.lit(0.0)),
            round_dp,
        ).alias("dup_frac"),
    )


def remove_duplicate_spans(df: DataFrame, id_col: str, text_col: str,
                           gram: int = 40,
                           max_bucket: int | None = None,
                           spans: DataFrame | None = None) -> DataFrame:
    """ACT on exact-substring duplication (the actual Lee et al. 2022
    treatment): cut every duplicated span from the HIGHER-id document of
    each pair, so exactly one occurrence survives corpus-wide while the
    lower-id doc keeps its text — a deterministic keep-first policy, the
    same canonicalization convention as the rest of the dedup family.

    Cleaned text is rebuilt RELATIONALLY (both engines can replay it):
    the cut intervals merge per doc (:func:`_merge_intervals`), their
    complement segments come from one lag window (each merged interval
    closes the gap that precedes it; one extra tail segment runs from
    the last cut to end-of-doc), and the kept text is the ordered
    concatenation of complement substrings.  Returns (id, orig_len,
    clean_len, clean_md5) for EVERY document — untouched docs pass
    through with their full text fingerprint.

    Scale: |spans|-bounded interval rows, two windows + one groupBy all
    partitioned by doc id, one join back to the docs by id.  The md5
    fingerprint keeps the output narrow (no cleaned blobs shuffle; a
    production write would project the kept-segment concat instead)."""
    from pyspark.sql.window import Window

    if spans is None:
        spans = duplicate_span_pairs(df, id_col, text_col, gram, max_bucket)
    # cuts feeds THREE consumers (gaps, tails, the has-cut flag) — but do
    # NOT localCheckpoint it: the consumers share the subtree up to the
    # islands groupBy's exchange, which Spark reuses (ReusedExchange), so
    # the witness join never re-executes; an eager checkpoint only adds a
    # serialization barrier (interleaved sf1 A/B: ckpt 50.2/23.0 s vs
    # no-ckpt 35.0/17.3 s — the r5 "measure before adding" lesson again).
    cuts = _merge_intervals(
        spans.select(
            F.col("id_b").alias("id"),
            F.col("start_b").alias("s"),
            (F.col("start_b") + F.col("span_len")).alias("e"),
        ).distinct()
    )
    docs = df.select(
        F.col(id_col).alias("id"),
        F.col(text_col).alias("t"),
        F.length(text_col).cast("bigint").alias("orig_len"),
    )
    w = Window.partitionBy("id").orderBy("s")
    gaps = cuts.select(
        "id",
        F.coalesce(F.lag("e").over(w), F.lit(0).cast("bigint")).alias("gs"),
        F.col("s").alias("ge"),
    )
    tails = (
        cuts.groupBy("id")
        .agg(F.max("e").alias("gs"))
        .join(docs.select("id", "orig_len"), "id")
        .select("id", "gs", F.col("orig_len").alias("ge"))
    )
    segs = (
        gaps.unionByName(tails)
        .filter(F.col("ge") > F.col("gs"))
        .join(docs.select("id", "t"), "id")
        .select(
            "id",
            "gs",
            F.col("t").substr(
                (F.col("gs") + 1).cast("int"), (F.col("ge") - F.col("gs")).cast("int")
            ).alias("seg"),
        )
    )
    kept = (
        segs.groupBy("id")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("gs", "seg"))),
                    lambda x: x["seg"],
                ),
                "",
            ).alias("clean_text")
        )
    )
    # a FULLY-covered doc (an exact duplicate) has cut intervals but zero
    # kept segments — it must clean to the EMPTY string, not fall back to
    # its full text, so the fallback keys off "has any cut interval"
    # rather than "has a kept row"
    cut_ids = cuts.select("id").distinct().withColumn("_has_cut", F.lit(1))
    return (
        docs.join(kept, "id", "left")
        .join(cut_ids, "id", "left")
        .select(
            "id",
            "orig_len",
            F.when(
                F.col("_has_cut").isNotNull(),
                F.coalesce("clean_text", F.lit("")),
            )
            .otherwise(F.col("t"))
            .alias("_ct"),
        )
        .select(
            "id",
            "orig_len",
            F.length("_ct").cast("bigint").alias("clean_len"),
            F.md5("_ct").alias("clean_md5"),
        )
    )
