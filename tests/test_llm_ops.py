"""Unit tests for the corpus-curation operators: k-means bucketing,
tf-idf extraction, unigram-LM scoring, quality-canonical dedup selection."""

import math

import pytest

from pyspark.sql import functions as F

from phenoxtract_spark.operators import clustering, textanalysis
from phenoxtract_spark.queries_core import read_table


@pytest.fixture(scope="module")
def emb(spark, sf_dir):
    return read_table(spark, sf_dir, "embeddings")


def _seeds(emb, stride):
    return emb.filter(F.col("vec_id") % stride == 0).select(
        F.col("vec_id").alias("cid"), F.col("embedding").alias("cv")
    )


def test_kmeans_assignment_total_and_valid(emb):
    """Every vector gets exactly one cluster, drawn from the seed ids'
    closure (recomputed centroids keep their seed cid)."""
    seeds = _seeds(emb, 61)
    assign = clustering.kmeans_iterate(emb, seeds, iterations=1)
    n = emb.count()
    assert assign.count() == n
    assert assign.select("id").distinct().count() == n
    seed_ids = {r["cid"] for r in seeds.select("cid").collect()}
    got = {r["cluster"] for r in assign.select("cluster").distinct().collect()}
    assert got <= seed_ids


def test_kmeans_inertia_never_increases(emb):
    """Lloyd's algorithm is monotone: total inertia after a recompute+
    reassign round is <= the seed assignment's inertia."""
    seeds = _seeds(emb, 61)
    a0 = clustering.kmeans_assign(emb, seeds, cen_id_col="cid", cen_vec_col="cv")
    c1 = clustering.kmeans_recompute(emb, a0)
    a1 = clustering.kmeans_assign(emb, c1, cen_id_col="cid", cen_vec_col="cv")

    def inertia(assign, cen):
        prof = clustering.cluster_profile(emb, assign, cen)
        return prof.agg(F.sum("inertia")).collect()[0][0]

    i0 = inertia(a0, seeds)
    i1 = inertia(a1, c1)
    assert i1 <= i0 + 1e-6


def test_kmeans_deterministic(emb):
    seeds = _seeds(emb, 61)
    a = sorted(
        (r["id"], r["cluster"])
        for r in clustering.kmeans_iterate(emb, seeds, iterations=2).collect()
    )
    b = sorted(
        (r["id"], r["cluster"])
        for r in clustering.kmeans_iterate(
            emb.repartition(7), seeds, iterations=2
        ).collect()
    )
    assert a == b


def test_tfidf_prefers_rare_terms(spark):
    docs = spark.createDataFrame(
        [
            (1, "common common zebra"),
            (2, "common common common"),
            (3, "common quartz quartz"),
        ],
        ["doc_id", "text"],
    )
    top = textanalysis.tfidf_topk(docs, "doc_id", "text", k=1)
    got = {r["id"]: r["tok"] for r in top.collect()}
    # 'common' appears in every doc → idf ln(4/4)=0; rare terms win
    assert got[1] == "zebra"
    assert got[3] == "quartz"
    # doc 2 has only 'common': score 0 rows still rank (k=1 keeps one)
    assert got[2] == "common"


def test_tfidf_rank_is_dense_per_doc(spark):
    docs = spark.createDataFrame(
        [(1, "alpha beta gamma delta"), (2, "alpha alpha beta")],
        ["doc_id", "text"],
    )
    top = textanalysis.tfidf_topk(docs, "doc_id", "text", k=3)
    for _, grp in __import__("itertools").groupby(
        sorted(top.collect(), key=lambda r: (r["id"], r["rank"])), key=lambda r: r["id"]
    ):
        ranks = [r["rank"] for r in grp]
        assert ranks == list(range(1, len(ranks) + 1))


def test_unigram_logprob_uniform_corpus(spark):
    """In a corpus where every token is equally frequent, every doc scores
    ln(1/V)."""
    docs = spark.createDataFrame(
        [(1, "aa bb"), (2, "cc dd")], ["doc_id", "text"]
    )
    out = {r["id"]: r["avg_logprob"] for r in
           textanalysis.unigram_logprob(docs, "doc_id", "text").collect()}
    expect = round(math.log(1 / 4), 4)
    assert out == {1: expect, 2: expect}


def test_unigram_logprob_repetitive_doc_scores_higher(spark):
    docs = spark.createDataFrame(
        [(1, "the the the the"), (2, "one rare word here")],
        ["doc_id", "text"],
    )
    out = {r["id"]: r["avg_logprob"] for r in
           textanalysis.unigram_logprob(docs, "doc_id", "text").collect()}
    # 'the' has corpus probability 4/8; the rare words 1/8 each
    assert out[1] > out[2]


def test_canonical_by_quality_keeps_best(spark):
    """Near-identical docs (same 2-shingle fingerprint) collapse to the
    highest-quality member."""
    base = "the quick brown fox jumps over the lazy dog and runs far away"
    noisy = base + " !!!! #### $$$$ %%%% @@@@ ^^^^"
    docs = spark.createDataFrame(
        [(1, noisy), (2, base), (3, "completely different text about ships")],
        ["doc_id", "text"],
    )
    fp = textanalysis.fingerprint_df(docs, "doc_id", "text", k=2)
    quality = docs.select(
        "doc_id", textanalysis.quality_score("text").alias("quality")
    )
    from pyspark.sql.window import Window

    joined = fp.join(quality, "doc_id")
    w = Window.partitionBy("fingerprint")
    kept = (
        joined.withColumn("n_dups", F.count("*").over(w))
        .withColumn(
            "rn",
            F.row_number().over(
                w.orderBy(F.col("quality").desc(), F.col("doc_id").asc())
            ),
        )
        .filter((F.col("rn") == 1) & (F.col("n_dups") > 1))
        .collect()
    )
    assert len(kept) == 1
    # doc 2 (clean) must beat doc 1 (punctuation-soup suffix)
    assert kept[0]["doc_id"] == 2


def test_shard_assignment_is_total_and_stable(spark, sf_dir):
    d = read_table(spark, sf_dir, "documents")
    shard = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 15), 16, 10)
        .cast("bigint")
        % 16
    )
    out = d.select(shard.alias("shard"))
    assert out.filter((F.col("shard") < 0) | (F.col("shard") > 15)).count() == 0
    # deterministic across partitionings
    a = out.groupBy("shard").count().collect()
    b = (
        d.repartition(9)
        .select(shard.alias("shard"))
        .groupBy("shard")
        .count()
        .collect()
    )
    assert sorted((r["shard"], r["count"]) for r in a) == sorted(
        (r["shard"], r["count"]) for r in b
    )


def test_bigram_logprob_values(spark):
    from pyspark.sql import functions as F  # noqa: F401

    from phenoxtract_spark.operators import textanalysis

    df = spark.createDataFrame(
        [
            (1, "a b a b"),      # bigrams: (a,b) x2, (b,a) x1
            (2, "a b"),          # bigram: (a,b)
            (3, "solo"),         # no bigrams -> drops out
        ],
        "doc_id bigint, text string",
    )
    out = {
        r["id"]: (r["n_bigrams"], r["avg_logprob"])
        for r in textanalysis.bigram_logprob(df, "doc_id", "text").collect()
    }
    assert set(out) == {1, 2}
    # corpus bigram counts: (a,b)=3, (b,a)=1; ctx: a=3, b=1... wait:
    # pairs: doc1 -> (a,b),(b,a),(a,b); doc2 -> (a,b). bg: (a,b)=3,(b,a)=1
    # ctx: prev=a -> 3, prev=b -> 1
    # doc1: ln(3/3), ln(1/1), ln(3/3) -> avg 0.0 over 3 bigrams
    # doc2: ln(3/3) -> 0.0
    assert out[1] == (3, 0.0)
    assert out[2] == (1, 0.0)


def test_bigram_logprob_discriminates_word_salad(spark):
    from phenoxtract_spark.operators import textanalysis

    rows = [(i, "the cat sat on the mat") for i in range(10)]
    rows.append((99, "mat the on cat the sat"))  # same words, scrambled
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    out = {
        r["id"]: r["avg_logprob"]
        for r in textanalysis.bigram_logprob(df, "doc_id", "text").collect()
    }
    assert out[99] < out[0], "scrambled doc must score below fluent docs"


def test_incremental_dedup_cross_boundary_only(spark):
    from pyspark.sql import functions as F

    from phenoxtract_spark.operators import dedup

    base = "the quick brown fox jumps over the lazy dog again and again"
    df = spark.createDataFrame(
        [
            (1, base),                       # existing
            (2, "completely different text about spark engines"),  # existing
            (3, base),                       # new: exact dup of 1
            (4, base + " tail"),             # new: near dup of 1
            (5, "unrelated new content with no match at all"),     # new: clean
            (6, base),                       # new: exact dup — must match OLD 1, not new 3
        ],
        "doc_id bigint, text string",
    )
    out = {
        r["id"]: r
        for r in dedup.incremental_dedup(
            df, "doc_id", "text", is_new=F.col("doc_id") >= 3
        ).collect()
    }
    assert set(out) == {3, 4, 5, 6}
    # exact matches resolve to the existing-corpus owner only
    assert out[3]["exact_match_id"] == 1
    assert out[6]["exact_match_id"] == 1
    assert out[5]["exact_match_id"] is None
    # the near path finds the banded candidate for both dups and the tail variant
    assert out[3]["n_near_candidates"] >= 1 and out[3]["first_candidate_id"] == 1
    assert out[4]["n_near_candidates"] >= 1 and out[4]["first_candidate_id"] == 1
    # candidates never pair new-with-new: doc 5 shares no band with 1/2
    assert out[5]["n_near_candidates"] == 0
    assert out[5]["first_candidate_id"] is None


def test_extract_patches_reassemble_to_bitmap(spark):
    import hashlib

    from phenoxtract_spark.operators import multimodal

    df = spark.createDataFrame([(1, "hello patches")], "doc_id bigint, text string")
    media = multimodal.attach_binary_payload(df, "doc_id", "text")
    payload = media.first()["payload"]
    rows = multimodal.extract_patches(media, width=16, height=16, patch=8).collect()
    assert len(rows) == 4
    assert all(r["n_bytes"] == 8 * 8 * 3 for r in rows)
    # rebuild the keystream bitmap independently and check each tile digest
    target = 16 * 16 * 3
    out = bytearray()
    counter = 0
    seed = hashlib.md5(bytes(payload)).digest()
    while len(out) < target:
        out.extend(hashlib.md5(seed + counter.to_bytes(4, "big")).digest())
        counter += 1
    bm = bytes(out[:target])
    for r in rows:
        pr, pc = r["patch_row"], r["patch_col"]
        tile = b"".join(
            bm[((pr * 8 + i) * 16 + pc * 8) * 3 : ((pr * 8 + i) * 16 + pc * 8 + 8) * 3]
            for i in range(8)
        )
        assert r["patch_md5"] == hashlib.md5(tile).hexdigest()


def test_extract_patches_strict_raises(spark):
    import pytest as _pytest

    from phenoxtract_spark.operators import multimodal

    df = spark.createDataFrame([(1, "x")], "doc_id bigint, text string")
    media = multimodal.attach_binary_payload(df, "doc_id", "text")
    with _pytest.raises(Exception):
        multimodal.extract_patches(media, fake=False).collect()


def test_quantize_embeddings_error_bound_and_constant_vector(spark):
    from phenoxtract_spark.operators import similarity

    df = spark.createDataFrame(
        [
            (1, [0.0, 1.0, 0.5, 0.25]),
            (2, [3.0, 3.0, 3.0, 3.0]),          # constant: scale undefined
            (3, [-1.0, 1.0, 0.0, 0.999]),
        ],
        "vec_id bigint, embedding array<float>",
    )
    out = {r["id"]: r for r in similarity.quantize_embeddings(df).collect()}
    # reconstruction error per element is bounded by (scale/2)^2
    for vid, lo, hi in ((1, 0.0, 1.0), (3, -1.0, 1.0)):
        scale = (hi - lo) / 255.0
        assert out[vid]["recon_mse"] <= (scale / 2) ** 2 + 1e-12
        assert out[vid]["q_min"] == lo and out[vid]["q_max"] == hi
    # constant vector: all codes 0, zero error
    assert out[2]["q_sum"] == 0 and out[2]["recon_mse"] == 0.0
    # endpoints map to code 0 and 255: vector 1 codes sum = 0+255+128+64
    assert out[1]["q_sum"] == 0 + 255 + 128 + 64


def test_ring_negatives_deterministic_uniform(spark):
    from phenoxtract_spark.operators import similarity

    df = spark.createDataFrame(
        [(i, [float(i)], i % 3) for i in range(40)],
        "vec_id bigint, embedding array<float>, label int",
    )
    out = similarity.ring_negatives(df, "vec_id", "label", k=3, shards=4)
    rows = out.collect()
    # every anchor gets its k negatives (unless its shard is tiny)
    per_anchor = {}
    for r in rows:
        per_anchor.setdefault(r["anchor_id"], set()).add(r["neg_rank"])
    assert all(len(v) == 3 for v in per_anchor.values())
    assert set(per_anchor) == set(range(40))
    # no self-negatives; determinism across two runs
    assert all(r["neg_id"] != r["anchor_id"] for r in rows)
    again = {(r["anchor_id"], r["neg_rank"], r["neg_id"]) for r in out.collect()}
    assert again == {(r["anchor_id"], r["neg_rank"], r["neg_id"]) for r in rows}


def test_bpe_apply_matches_reference_tokenizer(spark):
    from phenoxtract_spark.operators import textanalysis

    merges = [("t", "h"), ("th", "e"), ("a", "b")]

    def ref_count(text):
        total = 0
        for word in text.lower().split():
            toks = list(word)
            for a, b in merges:
                out, i = [], 0
                while i < len(toks):
                    if i + 1 < len(toks) and toks[i] == a and toks[i + 1] == b:
                        out.append(a + b)
                        i += 2
                    else:
                        out.append(toks[i])
                        i += 1
                toks = out
            total += len(toks)
        return total

    # includes literal parens (ADVICE r4: '(' used to wrap to '(()' and
    # double-count; the sentinel remap keeps them single ordinary symbols)
    texts = [
        "the theater thinks", "abab ababab TH TH", "x", "th the tthh",
        "(th) a(b) ((", ") th(e) ab()ab",
    ]
    df = spark.createDataFrame(
        list(enumerate(texts)), "doc_id bigint, text string"
    )
    rows = {
        r["id"]: r["n_tokens"]
        for r in textanalysis.bpe_apply_token_counts(
            df, "doc_id", "text", merges
        ).collect()
    }
    for i, t in enumerate(texts):
        assert rows[i] == ref_count(t), t


def test_cluster_balanced_sample_quotas_and_determinism(spark):
    import math
    from phenoxtract_spark.operators import clustering

    # two well-separated clusters in 4-d: 16 near e1, 4 near e2
    rows = []
    for i in range(16):
        rows.append((i, [10.0, 0.1 * i, 0.0, 0.0]))
    for i in range(4):
        rows.append((100 + i, [0.0, 0.0, 10.0, 0.1 * i]))
    vecs = spark.createDataFrame(rows, ["vec_id", "embedding"])
    cents = vecs.filter((vecs.vec_id == 0) | (vecs.vec_id == 100))
    out = clustering.cluster_balanced_sample(vecs, cents).collect()
    by_c = {}
    for r in out:
        by_c.setdefault(r.centroid_id, []).append(r)
    assert {c: len(v) for c, v in by_c.items()} == {0: 4, 100: 2}
    for c, members in by_c.items():
        n = members[0].cluster_size
        assert members[0].quota == math.ceil(math.sqrt(n))
        assert sorted(m.rank for m in members) == list(range(1, len(members) + 1))
    # deterministic: re-run picks the same ids
    out2 = clustering.cluster_balanced_sample(vecs, cents).collect()
    assert {r.vec_id for r in out2} == {r.vec_id for r in out}


def test_topk_recall_counts_and_zero_for_missed_queries(spark):
    from phenoxtract_spark.operators import similarity

    exact = spark.createDataFrame(
        [(1, 10), (1, 11), (2, 20), (2, 21), (3, 30), (3, 31)],
        ["query_id", "neighbor_id"],
    )
    approx = spark.createDataFrame(
        [(1, 10), (1, 11), (2, 21), (2, 99)], ["query_id", "neighbor_id"]
    )
    out = {r.query_id: r for r in
           similarity.topk_recall(exact, approx, k=2).collect()}
    assert out[1].n_hits == 2 and out[1].recall_at_k == 1.0
    assert out[2].n_hits == 1 and out[2].recall_at_k == 0.5
    assert out[3].n_hits == 0 and out[3].recall_at_k == 0.0


def test_rrf_fuse_hand_computed(spark):
    """Two legs, one query: an item present in both legs at mediocre
    ranks outscores an item that tops a single leg (the RRF property),
    single-leg items still appear, ties break by neighbor id."""
    from phenoxtract_spark.operators import similarity

    dense = spark.createDataFrame(
        [(0, 10, 1), (0, 11, 2), (0, 12, 3)],
        "query_id bigint, neighbor_id bigint, rank bigint",
    )
    lex = spark.createDataFrame(
        [(0, 11, 1), (0, 13, 2)],
        "query_id bigint, neighbor_id bigint, rank bigint",
    )
    out = {r["neighbor_id"]: r for r in
           similarity.rrf_fuse([dense, lex], k0=60, topk=10).collect()}
    # 11: 1/62 + 1/61 (both legs) beats 10: 1/61 (single leg)
    assert out[11]["rank"] == 1 and out[11]["n_legs"] == 2
    assert out[10]["rank"] == 2 and out[10]["n_legs"] == 1
    assert round(out[11]["rrf"], 6) == round(1 / 62 + 1 / 61, 6)
    assert round(out[13]["rrf"], 6) == round(1 / 62, 6)
    assert set(out) == {10, 11, 12, 13}
    # 12 (1/63) vs 13 (1/62): 13 ranks higher
    assert out[13]["rank"] == 3 and out[12]["rank"] == 4


def test_token_jaccard_topk_tiny(spark):
    """Unigram-set Jaccard against a 4-doc corpus, hand-checked."""
    from pyspark.sql import functions as F
    from phenoxtract_spark.operators import textanalysis

    d = spark.createDataFrame(
        [(0, "a b c"), (1, "a b c d"), (2, "a x"), (3, "y z")],
        "doc_id bigint, text string",
    )
    out = {r["neighbor_id"]: r for r in textanalysis.token_jaccard_topk(
        d, "doc_id", "text", F.col("doc_id") == 0, k=10).collect()}
    assert round(out[1]["jaccard"], 6) == 0.75      # |{a,b,c}|/|{a,b,c,d}|
    assert round(out[2]["jaccard"], 6) == 0.25      # {a} / {a,b,c,x}
    assert 3 not in out                             # no shared token
    assert out[1]["rank"] == 1 and out[2]["rank"] == 2


def test_topk_ndcg_order_sensitivity(spark):
    """nDCG = 1 when approx matches exact order; REVERSING the same set
    drops nDCG below 1 while recall@k would stay 1; a miss costs more
    at rank 1 than at rank k."""
    import math

    from phenoxtract_spark.operators import similarity

    exact = spark.createDataFrame(
        [(0, 10, 0.9, 1), (0, 11, 0.8, 2), (0, 12, 0.7, 3)],
        "query_id bigint, neighbor_id bigint, cos double, rank bigint",
    )
    same = similarity.topk_ndcg(exact, exact, k=3).collect()[0]
    assert same["ndcg_at_k"] == 1.0
    rev = spark.createDataFrame(
        [(0, 12, 1), (0, 11, 2), (0, 10, 3)],
        "query_id bigint, neighbor_id bigint, rank bigint",
    )
    r = similarity.topk_ndcg(exact, rev, k=3).collect()[0]
    d = [1.0 / math.log2(i + 1) for i in (1, 2, 3)]
    want = (0.7 * d[0] + 0.8 * d[1] + 0.9 * d[2]) / (
        0.9 * d[0] + 0.8 * d[1] + 0.7 * d[2]
    )
    assert r["ndcg_at_k"] == round(want, 6) < 1.0
    # unknown neighbor (outside exact top-k) contributes zero gain
    miss_top = spark.createDataFrame(
        [(0, 99, 1), (0, 10, 2), (0, 11, 3)],
        "query_id bigint, neighbor_id bigint, rank bigint",
    )
    m = similarity.topk_ndcg(exact, miss_top, k=3).collect()[0]
    want_m = (0.9 * d[1] + 0.8 * d[2]) / (0.9 * d[0] + 0.8 * d[1] + 0.7 * d[2])
    assert m["ndcg_at_k"] == round(want_m, 6)


def test_cross_entropy_score_held_out_semantics(spark):
    """Reference-like text scores LOWER cross-entropy than word salad or
    fully-OOV text; OOV maps to UNK (still scored, not dropped); add-one
    smoothing hand-checked on a one-bigram model."""
    import math

    from phenoxtract_spark.operators import textanalysis

    train = spark.createDataFrame(
        [(0, "the cat sat"), (1, "the cat ran")],
        "doc_id bigint, text string",
    )
    score = spark.createDataFrame(
        [(10, "the cat sat"),      # in-model
         (11, "cat the sat"),      # same words, wrong order
         (12, "zorp blif quux")],  # fully OOV
        "doc_id bigint, text string",
    )
    out = {r["id"]: r for r in textanalysis.cross_entropy_score(
        train, score, "doc_id", "text").collect()}
    assert out[10]["cross_entropy"] < out[11]["cross_entropy"]
    assert out[10]["cross_entropy"] < out[12]["cross_entropy"]
    assert out[12]["n_bigrams"] == 2          # OOV scored, not dropped
    # hand-check doc 10: vocab={the,cat,sat,ran}, V=5;
    # p(cat|the)=(2+1)/(2+5); p(sat|cat)=(1+1)/(2+5)
    want = -(math.log(3 / 7) + math.log(2 / 7)) / 2
    assert out[10]["cross_entropy"] == round(want, 4)


def test_mojibake_score_counts_planted_signatures(spark, tmp_path):
    """Library-level pin for the registered query's counting rules on a
    synthetic documents table: clean text scores zero; each planted
    signature class counts exactly (U+FFFD chars, the latin-1 lead
    byte, the 2-char windows-1252 digraph counted as pairs)."""
    import __spark_entry__ as ent

    docs = spark.createDataFrame(
        # doc_ids chosen so the md5 'moji-v1' bucket is >= 3 (no extra
        # corruption appended): found by probing the bucket function
        [(i, "clean plain text here", "en", "s") for i in range(40)],
        "doc_id bigint, text string, lang string, source string",
    )
    docs.coalesce(1).write.mode("overwrite").parquet(
        str(tmp_path / "documents.parquet"))
    out = {r.doc_id: r for r in
           ent.queries()["text_mojibake_score"](spark, str(tmp_path)).collect()}
    import hashlib
    def bucket(i):
        return int(hashlib.md5(f"moji-v1|{i}".encode()).hexdigest()[:8], 16) % 8
    for i, r in out.items():
        b = bucket(i)
        if b >= 3:
            assert (r.n_replacement, r.n_latin1_utf8, r.n_win1252_utf8) == (0, 0, 0)
            assert r.mojibake_score == 0.0 and r.is_damaged is False
        elif b == 0:   # latin-1 mojibake: three lead bytes
            assert r.n_latin1_utf8 == 3 and r.is_damaged is True
        elif b == 1:   # win-1252 digraphs: two 2-char pairs in the plant
            assert r.n_win1252_utf8 == 2 and r.is_damaged is True
        else:          # b == 2: two replacement chars
            assert r.n_replacement == 2 and r.is_damaged is True


def test_completeness_profile_exact_counts(spark, tmp_path):
    """NULLs, blank-after-trim, distincts, and length bounds count
    exactly on a hand-built documents table."""
    import __spark_entry__ as ent

    rows = [
        (1, "alpha", None, "s1"),
        (2, "  ", "en", "s1"),      # blank text after trim
        (3, None, "en", "s2"),      # null text
        (4, "alpha", "fr", None),   # null source
    ]
    spark.createDataFrame(
        rows, "doc_id bigint, text string, lang string, source string"
    ).coalesce(1).write.mode("overwrite").parquet(
        str(tmp_path / "documents.parquet"))
    out = {r.col_name: r for r in
           ent.queries()["profiling_completeness_profile"](
               spark, str(tmp_path)).collect()}
    t = out["text"]
    # count(DISTINCT) excludes NULL: {'alpha', '  '} -> 2
    assert (t.n_rows, t.n_null, t.n_blank, t.n_distinct) == (4, 1, 1, 2)
    assert (t.min_len, t.max_len) == (2, 5)
    assert t.completeness == 0.5
    l = out["lang"]
    assert (l.n_null, l.n_blank, l.n_distinct) == (1, 0, 2)
    s = out["source"]
    assert (s.n_null, s.n_distinct) == (1, 2)


def test_hard_negatives_grid_decomposition_matches_flat(spark, sf_dir, monkeypatch):
    """The r12 triangle-grid decomposition (s id-hash blocks per sig
    bucket, pairs enumerated per (sig, block_i, block_j) cell) must
    return EXACTLY the flat per-bucket enumeration's pairs — the block
    split is a parallelism shape, never a semantics change.  s derives
    from the parquet row count, so forcing the count high exercises the
    s>1 path on the small fixture."""
    import __spark_entry__ as ent
    import phenoxtract_spark.queries_core as qc

    fn = ent.queries()["embedding_hard_negatives"]
    flat = {tuple(r) for r in fn(spark, sf_dir).collect()}
    # force s = ceil((n//16)/384) > 1 regardless of fixture size
    monkeypatch.setattr(qc, "table_num_rows", lambda sf, t: 16 * 384 * 3 + 1)
    grid = {tuple(r) for r in fn(spark, sf_dir).collect()}
    assert grid == flat and len(flat) > 0


# a bigram model built once and passed as ``model=`` scores exactly like
# the in-line build
def test_cross_entropy_model_injection_matches_inline_build(spark):
    docs = spark.createDataFrame(
        [(i, f"the quick fox {i % 3} jumps over the dog {i % 5}")
         for i in range(40)],
        "doc_id bigint, text string",
    )
    train = docs.filter(F.col("doc_id") % 10 < 3)
    score = docs.filter(F.col("doc_id") % 10 >= 3)
    base = textanalysis.cross_entropy_score(train, score, "doc_id", "text")
    lm = textanalysis.bigram_lm_dims(train, "doc_id", "text")
    injected = textanalysis.cross_entropy_score(
        train, score, "doc_id", "text", model=lm
    )
    a = {r["id"]: (r["n_bigrams"], r["cross_entropy"]) for r in base.collect()}
    b = {r["id"]: (r["n_bigrams"], r["cross_entropy"]) for r in injected.collect()}
    assert a == b and len(a) > 0
