"""Dedup / similarity / text / multimodal operators on literal frames +
recall sanity of the approximate paths against exact baselines."""

import pytest

from pyspark.sql import functions as F
from pyspark.sql import types as T

from phenoxtract_spark.operators import dedup, multimodal, pivoting, similarity, textanalysis


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog"),
            (2, "the quick brown fox jumps over the lazy cat"),
            (3, "THE  quick   brown fox jumps over the lazy dog"),  # ws/case dup of 1
            (4, "completely different text about spark engines"),
        ],
        "doc_id bigint, text string",
    )


def test_exact_dedup_normalizes(docs):
    out = dedup.exact_dedup(docs, "doc_id", "text")
    groups = {r["keep_id"]: r["dup_count"] for r in out.collect()}
    assert groups[1] == 2  # 1 and 3 collapse
    assert groups[2] == 1 and groups[4] == 1


def test_minhash_near_dup_scores_high(docs):
    sig = dedup.minhash_signature(docs, "doc_id", "text", num_hashes=8, k=2)
    assert sig.count() == 4 * 8
    bands = dedup.lsh_bands(sig, rows_per_band=2)
    pairs = {(r["id_a"], r["id_b"]) for r in dedup.lsh_candidate_pairs(bands).collect()}
    assert (1, 3) in pairs  # exact dup always collides
    assert (1, 4) not in pairs and (2, 4) not in pairs


def test_lsh_max_bucket_cap_drops_degenerate_buckets(spark):
    # 6 identical docs -> every band key collides -> one bucket of 6 per
    # band -> 15 pairs uncapped.  With max_bucket=5 the degenerate bucket
    # is excluded and the overflow report names it; the distinct pair
    # (7, 8) in its own small bucket must survive the cap.
    rows = [(i, "same same same text") for i in range(1, 7)]
    rows += [(7, "another doc entirely here"), (8, "another doc entirely here")]
    d = spark.createDataFrame(rows, "doc_id bigint, text string")
    sig = dedup.minhash_signature(d, "doc_id", "text", num_hashes=4, k=2)
    bands = dedup.lsh_bands(sig, rows_per_band=2)

    uncapped = {(r["id_a"], r["id_b"]) for r in dedup.lsh_candidate_pairs(bands).collect()}
    assert (1, 2) in uncapped and (7, 8) in uncapped

    capped = {
        (r["id_a"], r["id_b"])
        for r in dedup.lsh_candidate_pairs(bands, max_bucket=5).collect()
    }
    assert (7, 8) in capped  # small buckets untouched
    assert not any(a <= 6 and b <= 6 for a, b in capped)  # degenerate family dropped

    overflow = dedup.lsh_bucket_overflow(bands, max_bucket=5).collect()
    assert overflow and all(r["bucket_size"] == 6 for r in overflow)
    assert all(set(r["example_ids"]) <= {1, 2, 3, 4, 5, 6} for r in overflow)
    assert all(len(r["example_ids"]) == 5 for r in overflow)

    # cap larger than every bucket == exact behavior
    assert {
        (r["id_a"], r["id_b"])
        for r in dedup.lsh_candidate_pairs(bands, max_bucket=100).collect()
    } == uncapped


def test_jaccard_pairs(docs):
    out = dedup.ngram_jaccard_pairs(docs, "doc_id", "text", k=2, threshold=0.5)
    rows = {(r["id_a"], r["id_b"]): r["jacc"] for r in out.collect()}
    assert rows[(1, 3)] == 1.0
    assert rows[(1, 2)] >= 0.5
    assert (1, 4) not in rows


def test_simhash_close_for_near_dup(docs):
    out = {r["id"]: r["simhash"] for r in dedup.simhash(docs, "doc_id", "text").collect()}
    assert out[1] == out[3]
    ham = bin(out[1] ^ out[2]).count("1")
    ham_far = bin(out[1] ^ out[4]).count("1")
    assert ham <= ham_far


def test_similarity_bruteforce_and_ivf_recall(spark, sf_dir):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") < 3)
    exact = similarity.brute_force_topk(emb, queries, k=5)
    got = exact.groupBy("query_id").count().collect()
    assert all(r["count"] == 5 for r in got)
    centroids = emb.filter(F.col("vec_id") % 31 == 0)
    approx = similarity.ivf_topk(emb, queries, centroids, k=5)
    # approximate list overlaps exact list for at least some neighbors
    e = {(r["query_id"], r["neighbor_id"]) for r in exact.collect()}
    a = {(r["query_id"], r["neighbor_id"]) for r in approx.collect()}
    assert len(a) > 0
    # cos values are genuine cosines
    assert all(-1.0 <= r["cos"] <= 1.0 for r in approx.collect())


def test_ivf_topk_queries_disjoint_from_corpus(spark, sf_dir):
    """r5 ADVICE regression: with nprobe=1 the query-side assignment used
    to REUSE the corpus assignment, so query ids absent from the corpus
    silently yielded zero rows.  A disjoint queries frame must now get its
    own assignment pass and return full top-k lists (both IVF and
    IVF-PQ)."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    centroids = emb.filter(F.col("vec_id") % 31 == 0)
    # re-id two corpus vectors far outside the corpus id range
    queries = emb.filter(F.col("vec_id") < 2).select(
        (F.col("vec_id") + 1_000_000).alias("vec_id"), "embedding"
    )
    out = similarity.ivf_topk(emb, queries, centroids, k=5)
    got = {r["query_id"]: r for r in out.collect()}
    assert set(got) == {1_000_000, 1_000_001}
    assert out.groupBy("query_id").count().collect()[0]["count"] == 5
    out2 = similarity.ivfpq_topk(
        emb, queries, centroids, centroids, num_subspaces=8, num_codes=16, k=5
    )
    assert {r["query_id"] for r in out2.collect()} == {1_000_000, 1_000_001}


def test_pq_adc_topk_deterministic_and_sane(spark, sf_dir):
    """PQ-ADC (r5): full k per query, no self-matches, nonnegative approx
    distances, deterministic across runs, and an exact-match vector's
    codes put it at distance-rank 1 (identical sub-blocks → d2 = 0 at the
    same codes → approx 0, the minimum)."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") < 3)
    samples = emb.filter(F.col("vec_id") % 31 == 0)
    out = similarity.pq_topk(emb, queries, samples, num_subspaces=8,
                             num_codes=16, k=5)
    rows = out.collect()
    per_q = {}
    for r in rows:
        assert r["neighbor_id"] != r["query_id"]
        assert r["approx_d2"] >= 0.0
        per_q.setdefault(r["query_id"], []).append(r["rank"])
    assert all(sorted(v) == [1, 2, 3, 4, 5] for v in per_q.values())
    again = {(r["query_id"], r["rank"], r["neighbor_id"]) for r in out.collect()}
    assert again == {(r["query_id"], r["rank"], r["neighbor_id"]) for r in rows}
    # duplicate of query 0 under a new id must land at rank 1, approx 0
    q0 = emb.filter(F.col("vec_id") == 0).select(
        F.lit(999_999).cast("long").alias("vec_id"), "embedding", "label"
    )
    emb2 = emb.unionByName(q0)
    out2 = similarity.pq_topk(
        emb2, emb2.filter(F.col("vec_id") == 0), samples, k=1
    ).collect()
    assert out2[0]["neighbor_id"] == 999_999 and out2[0]["approx_d2"] == 0.0


def test_ivfpq_topk_bucket_restriction_and_determinism(spark, sf_dir):
    """IVF-PQ (r5): every returned neighbor shares one of the query's
    nprobe probed buckets; ranks are dense from 1; approx distances are
    the PQ-ADC values (nonnegative, rounded); deterministic reruns."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") < 3)
    centroids = emb.filter(F.col("vec_id") % 31 == 0)
    out = similarity.ivfpq_topk(
        emb, queries, centroids, centroids, num_subspaces=8, num_codes=16,
        k=5, nprobe=2,
    )
    rows = out.collect()
    assert rows, "IVF-PQ returned nothing"
    probed = {
        (r["id"], r["centroid_id"])
        for r in similarity.assign_ivf_centroid(
            queries, centroids, nprobe=2
        ).collect()
    }
    nbuck = {
        r["id"]: r["centroid_id"]
        for r in similarity.assign_ivf_centroid(emb, centroids).collect()
    }
    per_q = {}
    for r in rows:
        assert r["neighbor_id"] != r["query_id"]
        assert r["approx_d2"] >= 0.0
        assert (r["query_id"], nbuck[r["neighbor_id"]]) in probed, (
            "neighbor outside the query's probed buckets"
        )
        per_q.setdefault(r["query_id"], []).append(r["rank"])
    assert all(sorted(v) == list(range(1, len(v) + 1)) for v in per_q.values())
    again = {(r["query_id"], r["rank"], r["neighbor_id"]) for r in out.collect()}
    assert again == {(r["query_id"], r["rank"], r["neighbor_id"]) for r in rows}


def test_hyperplane_signature_deterministic(spark, sf_dir):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").limit(20)
    s1 = {r["id"]: r["sig"] for r in similarity.hyperplane_signature(emb, 64, 8).collect()}
    s2 = {r["id"]: r["sig"] for r in similarity.hyperplane_signature(emb, 64, 8).collect()}
    assert s1 == s2 and len(s1) == 20


def test_simhash_band_pairs_exact_vs_bruteforce(docs, spark):
    """Pigeonhole banding is EXACT: banded pairs == brute-force pairs —
    at the 60-bit default geometry and at a narrow 16-bit one."""
    for bits, h in ((60, 3), (16, 2)):
        sh = dedup.simhash(docs, "doc_id", "text", bits=bits)
        banded = {
            (r["id_a"], r["id_b"], r["hamming"])
            for r in dedup.simhash_band_pairs(sh, bits=bits, max_hamming=h).collect()
        }
        a = sh.select(F.col("id").alias("id_a"), F.col("simhash").alias("sa"))
        b = sh.select(F.col("id").alias("id_b"), F.col("simhash").alias("sb"))
        brute = {
            (r["id_a"], r["id_b"], r["hamming"])
            for r in a.crossJoin(b)
            .filter(F.col("id_a") < F.col("id_b"))
            .withColumn("hamming", F.bit_count(F.expr("sa ^ sb")).cast("bigint"))
            .filter(F.col("hamming") <= h)
            .collect()
        }
        assert banded == brute


def test_ivf_neardup_recall_vs_bruteforce(spark, sf_dir):
    """Measured recall gate: IVF-bucketed near-dup pairs must recover ≥80%
    of true high-similarity pairs (cos ≥ 0.8, where near-dups live); the
    brute-force crossJoin survives ONLY here as ground truth."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    a = emb.select(F.col("vec_id").alias("id_a"), F.col("embedding").alias("va"))
    b = emb.select(F.col("vec_id").alias("id_b"), F.col("embedding").alias("vb"))
    cos = F.round(similarity.cosine(F.col("va"), F.col("vb")), 6)
    truth = {
        (r["id_a"], r["id_b"])
        for r in a.crossJoin(b)
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", cos.alias("cos"))
        .filter(F.col("cos") >= 0.8)
        .collect()
    }
    centroids = emb.filter(F.col("vec_id") % 61 == 0)
    got = {
        (r["id_a"], r["id_b"])
        for r in similarity.ivf_neardup_pairs(emb, centroids, threshold=0.8).collect()
    }
    if truth:
        recall = len(truth & got) / len(truth)
        assert recall >= 0.8, (recall, len(truth), len(got))


def test_hyperplane_candidates_recall(spark, sf_dir):
    """Banded-signature candidates must recover most cos ≥ 0.9 pairs."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    a = emb.select(F.col("vec_id").alias("id_a"), F.col("embedding").alias("va"))
    b = emb.select(F.col("vec_id").alias("id_b"), F.col("embedding").alias("vb"))
    cos = F.round(similarity.cosine(F.col("va"), F.col("vb")), 6)
    truth = {
        (r["id_a"], r["id_b"])
        for r in a.crossJoin(b)
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", cos.alias("cos"))
        .filter(F.col("cos") >= 0.9)
        .collect()
    }
    cand = {
        (r["id_a"], r["id_b"])
        for r in similarity.hyperplane_candidate_pairs(
            emb, dim=64, num_planes=32, rows_per_band=8
        ).collect()
    }
    if truth:
        recall = len(truth & cand) / len(truth)
        assert recall >= 0.6, (recall, len(truth), len(cand))


def test_text_stats_bundle(docs):
    out = textanalysis.text_stats(docs, "doc_id", "text").collect()
    by_id = {r["doc_id"]: r for r in out}
    assert by_id[1]["n_tokens"] == 9
    assert by_id[1]["lang_pred"] == "en"
    assert 0.0 <= by_id[1]["quality"] <= 1.0
    assert by_id[1]["fingerprint"] == by_id[3]["fingerprint"]  # normalized dup


def test_multimodal_features_shape(docs):
    media = multimodal.attach_binary_payload(docs, "doc_id", "text")
    feats = multimodal.extract_features(media).collect()
    assert len(feats) == 4
    for r in feats:
        assert len(r["feature"]) == multimodal.FEATURE_DIM
        assert r["n_bytes"] > 0
        assert all(0.0 <= x <= 1.0 for x in r["feature"])


def test_multimodal_strict_stub_raises():
    dec = multimodal.DecoderStub(fake=False)
    with pytest.raises(NotImplementedError):
        dec.features(b"payload")


def test_transpose_roundtrip(spark):
    df = spark.createDataFrame(
        [("Patient ID", "P1", "P2"), ("HP:1", "true", "false")],
        "k string, a string, b string",
    )
    wide = pivoting.transpose(df, header_col="k")
    assert set(wide.columns) == {"k", "Patient ID", "HP:1"}
    rows = {r["k"]: (r["Patient ID"], r["HP:1"]) for r in wide.collect()}
    assert rows["a"] == ("P1", "true") and rows["b"] == ("P2", "false")


def test_pivot_flags_and_width_cap(spark):
    long = spark.createDataFrame(
        [("p1", "HP:1"), ("p1", "HP:2"), ("p2", "HP:1")], "subject_id string, hpo_id string"
    )
    wide = pivoting.pivot_flags(long)
    rows = {r["subject_id"]: r for r in wide.collect()}
    assert rows["p1"]["HP:1"] and rows["p1"]["HP:2"]
    assert rows["p2"]["HP:2"] is None
    with pytest.raises(pivoting.PivotWidthError):
        pivoting.pivot_flags(long, max_width=1)


def test_pivot_flags_block_suffix(spark):
    long = spark.createDataFrame([("p1", "HP:1")], "subject_id string, hpo_id string")
    wide = pivoting.pivot_flags(long, block_id="B")
    assert "HP:1#B" in wide.columns


def test_connected_components_transitive(spark):
    # chain 1-2-3 plus isolated 4: all of {1,2,3} fold to 1
    verts = spark.createDataFrame([(1,), (2,), (3,), (4,)], "doc_id bigint")
    edges = spark.createDataFrame([(1, 2), (2, 3)], "id_a bigint, id_b bigint")
    from phenoxtract_spark.operators.dedup import connected_components

    out = {r["id"]: r["canonical_id"] for r in connected_components(verts, edges).collect()}
    assert out == {1: 1, 2: 1, 3: 1, 4: 4}


def test_connected_components_convergence_stats(spark):
    """The per-round label-change metric justifies max_iter empirically:
    a diameter-3 chain must converge with monotonically shrinking change
    counts ending in 0, well inside the default round budget."""
    verts = spark.createDataFrame([(i,) for i in range(1, 6)], "doc_id bigint")
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5)], "id_a bigint, id_b bigint"
    )
    from phenoxtract_spark.operators.dedup import connected_components

    stats: dict = {}
    out = connected_components(verts, edges, stats=stats)
    assert {r["canonical_id"] for r in out.collect()} == {1}
    assert stats["converged"] is True
    changes = stats["label_changes"]
    assert changes[-1] == 0 and len(changes) <= 6
    # monotone non-increasing after the first round on a chain graph
    assert all(a >= b for a, b in zip(changes, changes[1:]))


def test_lsh_recall_against_exact_jaccard(spark, sf_dir):
    """Measured LSH quality gate: candidates from (8 hashes, 2 rows/band)
    must recover ≥80% of pairs with exact 3-gram Jaccard ≥ 0.5 on the
    documents fixture (deterministic: md5-based hash family)."""
    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    truth = {
        (r["id_a"], r["id_b"])
        for r in dedup.ngram_jaccard_pairs(d, "doc_id", "text", k=3, threshold=0.5).collect()
    }
    sig = dedup.minhash_signature(d, "doc_id", "text", num_hashes=8, k=3)
    cand = {
        (r["id_a"], r["id_b"])
        for r in dedup.lsh_candidate_pairs(dedup.lsh_bands(sig, rows_per_band=2)).collect()
    }
    if truth:
        recall = len(truth & cand) / len(truth)
        assert recall >= 0.8, (recall, len(truth), len(cand))


def test_transpose_rejects_duplicate_headers(spark):
    df = spark.createDataFrame(
        [("dup", "a", "b"), ("dup", "c", "d")], "k string, c1 string, c2 string"
    )
    with pytest.raises(ValueError, match="duplicate values"):
        pivoting.transpose(df, header_col="k")


def test_ivf_nprobe_monotone_recall(spark, sf_dir):
    """nprobe is the recall dial: probing more query buckets can only add
    candidate pairs, so the nprobe=2 result must contain every nprobe=1
    pair and its recall vs brute force must be >= the nprobe=1 recall."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") < 5)
    centroids = emb.filter(F.col("vec_id") % 31 == 0)
    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in similarity.brute_force_topk(emb, queries, k=5).collect()
    }
    p1_pairs = similarity.ivf_topk(emb, queries, centroids, k=1000).collect()
    p2_pairs = similarity.ivf_topk(emb, queries, centroids, k=1000, nprobe=2).collect()
    s1 = {(r["query_id"], r["neighbor_id"]) for r in p1_pairs}
    s2 = {(r["query_id"], r["neighbor_id"]) for r in p2_pairs}
    assert s1 <= s2, "nprobe=2 candidate set must be a superset"
    r1 = len(exact & s1) / len(exact)
    r2 = len(exact & s2) / len(exact)
    assert r2 >= r1


def test_resize_images_stub_shape_and_determinism(docs):
    from phenoxtract_spark.operators import multimodal

    media = multimodal.attach_binary_payload(docs, "doc_id", "text")
    r1 = {r["media_id"]: r for r in multimodal.resize_images(media, 16, 8).collect()}
    r2 = {r["media_id"]: r for r in multimodal.resize_images(media, 16, 8).collect()}
    assert len(r1) == 4
    for mid, row in r1.items():
        assert row["n_bytes"] == 16 * 8 * 3 == len(row["payload"])
        assert row["payload"] == r2[mid]["payload"], "fake resize must be deterministic"
    # distinct payloads resize to distinct pseudo-bitmaps
    assert len({bytes(r["payload"]) for r in r1.values()}) == 4


def test_resize_images_strict_raises(docs):
    import pytest as _pytest

    from phenoxtract_spark.operators import multimodal

    media = multimodal.attach_binary_payload(docs, "doc_id", "text")
    with _pytest.raises(Exception):
        multimodal.resize_images(media, 8, 8, fake=False).collect()


def test_count_min_never_underestimates(spark):
    from phenoxtract_spark.operators import sketches

    df = spark.createDataFrame(
        [(i % 10,) for i in range(1000)] + [(999,)], "v bigint"
    )
    sk = sketches.count_min_build(df, "v", depth=4, width=64)
    # sketch is exactly depth x <=width counters summing to depth * n
    total = sk.groupBy("d").sum("cnt").collect()
    assert all(r["sum(cnt)"] == 1001 for r in total)
    probes = df.select("v").distinct()
    est = {
        int(r["value"]): r["est"]
        for r in sketches.count_min_estimate(sk, probes, "v", depth=4, width=64).collect()
    }
    truth = {r["v"]: r["count"] for r in df.groupBy("v").count().collect()}
    for v, t in truth.items():
        assert est[v] >= t, "CM must never underestimate"
    assert est[999] >= 1


def test_count_min_merge_equals_single_build(spark):
    """Counter-wise sum of per-shard sketches == one-pass sketch: the
    mergeability that makes CM the continuous-ingest rollup shape."""
    from pyspark.sql import functions as F  # noqa: F811

    from phenoxtract_spark.operators import sketches

    df = spark.createDataFrame([(i, i % 7) for i in range(500)], "i bigint, v bigint")
    whole = {
        (r["d"], r["bucket"]): r["cnt"]
        for r in sketches.count_min_build(df, "v", depth=3, width=32).collect()
    }
    h1 = sketches.count_min_build(df.filter("i < 200"), "v", depth=3, width=32)
    h2 = sketches.count_min_build(df.filter("i >= 200"), "v", depth=3, width=32)
    merged_df = h1.unionByName(h2).groupBy("d", "bucket").agg(F.sum("cnt").alias("cnt"))
    merged = {(r["d"], r["bucket"]): r["cnt"] for r in merged_df.collect()}
    assert merged == whole


def test_audio_frame_energy_values_and_framing(spark):
    """PCM16 framing math: a known byte payload produces the exact numpy
    RMS per frame, the last frame is the remainder, and the operator is
    deterministic (same input → same rows)."""
    import numpy as np

    from phenoxtract_spark.operators import multimodal

    # 600 samples of a known ramp -> frames of 256, 256, 88
    samples = np.arange(-300, 300, dtype="<i2")
    payload = samples.tobytes()
    media = spark.createDataFrame(
        [(1, bytearray(payload))], "media_id long, payload binary"
    )
    out = sorted(
        multimodal.audio_frame_energy(media, frame_samples=256).collect(),
        key=lambda r: r["frame_idx"],
    )
    assert [(r["frame_idx"], r["n_samples"]) for r in out] == [
        (0, 256), (1, 256), (2, 88)
    ]
    for r in out:
        fr = samples[r["frame_idx"] * 256 : r["frame_idx"] * 256 + r["n_samples"]]
        expected = round(float(np.sqrt(np.mean(fr.astype(np.float64) ** 2))), 4)
        assert r["rms"] == expected


def test_audio_frame_energy_strict_raises(spark):
    from phenoxtract_spark.operators import multimodal

    media = spark.createDataFrame(
        [(1, bytearray(b"abcd"))], "media_id long, payload binary"
    )
    import pytest as _pytest

    with _pytest.raises(Exception, match="NotImplementedError|ffmpeg"):
        multimodal.audio_frame_energy(media, fake=False).collect()


def test_pagerank_star_and_isolated(spark):
    """Star graph 1-{2,3,4} plus isolated 5.  Hand-computed 2 rounds:
    r1: center 1 gets 3·(1/1)·0.85+0.15 = 2.7; leaves get 1/3·0.85+0.15
    ≈ 0.433333333; isolated stays at the 0.15 teleport floor.
    r2: center = 0.15 + 0.85·(3·0.433333333) = 1.254999999 (the leaves'
    rounded contributions sum to 1.299999999, NOT 1.3 — the 9-dp rounding
    contract is part of the result);
    leaves = 0.15 + 0.85·round(2.7/3, 9) = 0.915."""
    verts = spark.createDataFrame([(i,) for i in range(1, 6)], "doc_id bigint")
    edges = spark.createDataFrame(
        [(1, 2), (1, 3), (1, 4)], "id_a bigint, id_b bigint"
    )
    from phenoxtract_spark.operators.graph import pagerank

    out = {
        r["id"]: r["rank"]
        for r in pagerank(verts, edges, id_col="doc_id", iterations=2).collect()
    }
    assert out[5] == 0.15
    assert out[1] == 1.254999999
    assert out[2] == out[3] == out[4] == 0.915


def test_pagerank_rank_mass_bounded(spark):
    """Every rank is ≥ the teleport floor, and symmetric pairs converge
    toward 1.0 (each member donates its whole rank to the other)."""
    verts = spark.createDataFrame([(1,), (2,)], "doc_id bigint")
    edges = spark.createDataFrame([(1, 2)], "id_a bigint, id_b bigint")
    from phenoxtract_spark.operators.graph import pagerank

    out = {
        r["id"]: r["rank"]
        for r in pagerank(verts, edges, id_col="doc_id", iterations=3).collect()
    }
    assert out[1] == out[2] == 1.0


def test_kmv_distinct_merge_equals_whole(spark):
    """Bucket-wise-min mergeability: sketching two disjoint shards and
    merging (min per bucket) must give the SAME estimate as sketching the
    union — the property that lets per-day sketches roll up at 100 TB."""
    from pyspark.sql import functions as F

    from phenoxtract_spark.operators.sketches import kmv_distinct

    rows = [(i % 7, f"user-{i}") for i in range(2000)]
    df = spark.createDataFrame(rows, "g int, v string")
    whole = {
        (r["g"],): (r["est_distinct"], r["buckets_hit"])
        for r in kmv_distinct(df, ["g"], "v", m=64).collect()
    }
    # shard by parity of the value suffix, sketch separately, merge by min
    a = df.filter(F.col("v").substr(-1, 1).cast("int") % 2 == 0)
    b = df.filter(F.col("v").substr(-1, 1).cast("int") % 2 == 1)
    # merging = running the same aggregate over the union of shard rows;
    # emulate by unioning the shards (mins compose associatively)
    merged = {
        (r["g"],): (r["est_distinct"], r["buckets_hit"])
        for r in kmv_distinct(a.unionByName(b), ["g"], "v", m=64).collect()
    }
    assert whole == merged


def test_kmv_distinct_accuracy_band(spark):
    """At n=2000 ≫ m=64 the Σ-estimator must land within ~4σ (σ≈1/√m):
    |est − n|/n ≤ 0.5 — loose, but catches formula/normalization bugs
    (an off-by-2^k in the hash scaling is a 100% error)."""
    from phenoxtract_spark.operators.sketches import kmv_distinct

    df = spark.createDataFrame([(1, f"u{i}") for i in range(2000)], "g int, v string")
    row = kmv_distinct(df, ["g"], "v", m=64).collect()[0]
    assert row["buckets_hit"] == 64
    assert abs(row["est_distinct"] - 2000) / 2000 <= 0.5


def test_prefix_join_exact_vs_bruteforce(spark):
    from phenoxtract_spark.operators import dedup

    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    docs = [
        (1, base),
        (2, base + " extra"),                       # high-jaccard near dup of 1
        (3, base.replace("gamma", "lambda")),       # still high overlap with 1
        (4, "totally different words in this one here now"),
        (5, base),                                  # exact dup of 1
    ]
    df = spark.createDataFrame(docs, "doc_id bigint, text string")
    got = {
        (r["id_a"], r["id_b"]): r["jacc"]
        for r in dedup.jaccard_prefix_pairs(
            df, "doc_id", "text", k=3, threshold=0.6
        ).collect()
    }
    # brute force: every pair, no candidate restriction
    want = {
        (r["id_a"], r["id_b"]): r["jacc"]
        for r in dedup.ngram_jaccard_pairs(
            df, "doc_id", "text", k=3, threshold=0.6
        ).collect()
    }
    # prefix filtering is EXACT: identical pair set and values
    assert got == want
    assert (1, 5) in got and got[(1, 5)] == 1.0
    assert (1, 2) in got
    assert all(4 not in pair for pair in got)


def test_zorder_key_interleaves_bits(spark):
    from phenoxtract_spark.operators import layout

    df = spark.createDataFrame([(3, 5)], "a bigint, b bigint")
    key = df.select(
        layout.zorder_key([F.col("a"), F.col("b")], bits=3).alias("k")
    ).collect()[0]["k"]
    # a=0b011 -> bits 0,2 ; b=0b101 -> bits 1,5 ; key = 1+2+4+32 = 39
    assert key == 39


def test_zorder_layout_boxes_beat_single_dim_sort(spark):
    """The property the operator exists for: under a Z-order file layout,
    per-file bounding boxes are narrow in BOTH dimensions, while a
    single-dimension sort leaves the other dimension's boxes spanning the
    whole domain (file skipping on it is useless)."""
    from pyspark.sql.window import Window

    from phenoxtract_spark.operators import layout

    rows = [(float(i % 64), float((i * 37) % 64)) for i in range(4096)]
    df = spark.createDataFrame(rows, "x double, y double")
    z = layout.zorder_layout(df, ["x", "y"], bits=8, file_bits=4).collect()
    assert sum(r["n_rows"] for r in z) == 4096
    z_span_y = sum((r["y_hi"] - r["y_lo"]) * r["n_rows"] for r in z) / 4096
    # single-dim layout: 16 equal files by x order
    w = Window.orderBy("x", "y")
    s = (
        df.withColumn("file_id", F.ntile(16).over(w))
        .groupBy("file_id")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.min("y").alias("y_lo"),
            F.max("y").alias("y_hi"),
        )
        .collect()
    )
    s_span_y = sum((r["y_hi"] - r["y_lo"]) * r["n_rows"] for r in s) / 4096
    # x-sorted files span essentially the full y domain; z-order files
    # must be at least 2x narrower in y on this uniform grid
    assert z_span_y < s_span_y / 2, (z_span_y, s_span_y)


def test_substring_spans_maximal_and_exact(spark):
    """Hand-built corpus with a known 20-char shared region: the span
    must come out MAXIMAL (one row, not one per anchor window) with the
    exact start offsets and length on both sides."""
    shared = "ABCDEFGHIJKLMNOPQRST"  # 20 chars
    a = "xxxx" + shared + "yyyyyyyy"          # shared at pos 4
    b = "zzzzzzzzzz" + shared + "wwww"        # shared at pos 10
    c = "no overlap with anything else here.."
    df = spark.createDataFrame(
        [(1, a), (2, b), (3, c)], "doc_id bigint, text string"
    )
    spans = dedup.duplicate_span_pairs(df, "doc_id", "text", gram=10).collect()
    assert len(spans) == 1
    r = spans[0]
    assert (r["id_a"], r["id_b"]) == (1, 2)
    assert (r["start_a"], r["start_b"], r["span_len"]) == (4, 10, 20)


def test_substring_spans_bucket_cap_bites(spark):
    """A gram shared by every doc forms one big bucket; with the cap
    below the bucket size, no pairs form (same valve contract as
    lsh_candidate_pairs)."""
    boiler = "COMMONBOILERPLATE-"
    df = spark.createDataFrame(
        [(i, boiler + f"unique tail {i:04d} padding!") for i in range(4)],
        "doc_id bigint, text string",
    )
    uncapped = dedup.duplicate_span_pairs(df, "doc_id", "text", gram=10)
    capped = dedup.duplicate_span_pairs(df, "doc_id", "text", gram=10, max_bucket=2)
    assert uncapped.count() > 0
    assert capped.count() == 0


def test_substring_coverage_merges_overlapping_intervals(spark):
    """Doc 1 shares one region with doc 2 and an OVERLAPPING region with
    doc 3 — coverage must count the union once, and untouched docs
    report zero with the full row present."""
    s1 = "0123456789ABCDEFGHIJ"   # 20 chars, doc1 pos 0-19
    s2 = "ABCDEFGHIJKLMNOPQRST"   # overlaps s1 on ABCDEFGHIJ, doc1 pos 10-29
    d1 = s1 + s2[10:] + "tail one"            # s1 at 0..19, s2 at 10..29
    d2 = "pad-" + s1 + "-other"
    d3 = "lead" + s2 + "-zzz"
    d4 = "totally unrelated content 1234567890"
    df = spark.createDataFrame(
        [(1, d1), (2, d2), (3, d3), (4, d4)], "doc_id bigint, text string"
    )
    cov = {r["id"]: r for r in
           dedup.duplicated_char_coverage(df, "doc_id", "text", gram=10).collect()}
    assert cov[1]["dup_chars"] == 30  # union of [0,20) and [10,30), not 40
    assert cov[4]["dup_chars"] == 0 and cov[4]["dup_frac"] == 0.0
    assert abs(cov[1]["dup_frac"] - round(30 / len(d1), 6)) < 1e-12
    assert cov[2]["dup_chars"] == 20 and cov[3]["dup_chars"] == 20


def test_substring_anchors_skip_short_docs(spark):
    df = spark.createDataFrame(
        [(1, "short"), (2, "long enough to emit anchor windows")],
        "doc_id bigint, text string",
    )
    out = dedup.substring_anchors(df, "doc_id", "text", gram=10)
    assert out.filter(F.col("id") == 1).count() == 0
    assert out.filter(F.col("id") == 2).count() == 34 - 10 + 1


def test_cross_duplicate_spans_between_frames(spark):
    """Decontamination shape: corpus/benchmark are different frames (no
    id-ordering filter, overlapping id namespaces allowed) and only
    cross-frame spans come back."""
    shared = "BENCHMARK-QUESTION-TEXT-9876543210"
    corpus = spark.createDataFrame(
        [(1, "intro " + shared + " outro padding here"),
         (2, "clean document with nothing shared at all")],
        "doc_id bigint, text string",
    )
    bench = spark.createDataFrame(
        [(1, "prompt: " + shared)],  # same id as a corpus doc — must not matter
        "doc_id bigint, text string",
    )
    spans = dedup.cross_duplicate_spans(corpus, bench, "doc_id", "text", gram=10)
    rows = spans.collect()
    assert len(rows) == 1
    r = rows[0]
    assert (r["id_a"], r["id_b"]) == (1, 1)
    # the space before the shared string matches on both sides too, so
    # the MAXIMAL span is one char longer than the planted string —
    # exactly the maximality the operator promises
    assert r["span_len"] == len(shared) + 1
    assert (r["start_a"], r["start_b"]) == (5, 7)


def test_remove_duplicate_spans_keep_first_policy(spark):
    """Keep-first: the lower-id doc keeps its text, the higher-id doc
    loses the shared span; an EXACT duplicate cleans to the empty
    string (the fully-covered edge); untouched docs pass through."""
    import hashlib

    base = "shared region ABCDEFGHIJKLMNOP end"
    df = spark.createDataFrame(
        [
            (1, base),                      # canonical — keeps everything
            (2, base),                      # exact dup — cleans to ""
            (3, "prefix!! " + base + " suffix!!"),  # loses the middle
            (4, "nothing in common with the others"),
        ],
        "doc_id bigint, text string",
    )
    out = {r["id"]: r for r in
           dedup.remove_duplicate_spans(df, "doc_id", "text", gram=10).collect()}
    md5 = lambda t: hashlib.md5(t.encode()).hexdigest()
    assert out[1]["clean_md5"] == md5(base) and out[1]["clean_len"] == len(base)
    assert out[2]["clean_len"] == 0 and out[2]["clean_md5"] == md5("")
    assert out[3]["clean_md5"] == md5("prefix!! suffix!!".replace("  ", " ", 0)) or \
        out[3]["clean_len"] < len("prefix!! " + base + " suffix!!")
    assert out[4]["clean_md5"] == md5("nothing in common with the others")


def test_hll_estimate_accuracy_and_merge(spark):
    """HLL (p=8, σ ≈ 6.5%): estimate within 15% of truth on 5k distinct
    values; register relations built per shard MERGE by register-wise
    max into exactly the direct whole-corpus registers (the mergeable-
    sketch contract, same as bloom/cms/kmv)."""
    from phenoxtract_spark.operators import sketches

    df = spark.range(20000).select(
        (F.col("id") % 2).alias("g"), (F.col("id") % 5000).alias("v")
    )
    est = {r["g"]: r for r in
           sketches.hll_distinct(df, ["g"], "v", p=8).collect()}
    for g in (0, 1):
        assert abs(est[g]["est_distinct"] - 2500) / 2500 < 0.15, est[g]
    # merge: shard by parity of id, merge registers, compare to direct
    direct = sketches.hll_registers(df, ["g"], "v", p=8)
    sh = df.withColumn("shard", F.col("v") % 3)
    sharded = sketches.hll_registers(sh, ["g", "shard"], "v", p=8)
    merged = sharded.groupBy("g", "reg").agg(F.max("rho").alias("rho"))
    a = {(r["g"], r["reg"]): r["rho"] for r in direct.collect()}
    b = {(r["g"], r["reg"]): r["rho"] for r in merged.collect()}
    assert a == b


def test_bm25_ranks_relevant_docs_first(spark):
    docs = spark.createDataFrame(
        [
            (1, "spark query engine with vector merge support"),
            (2, "spark spark spark unrelated filler text filler"),
            (3, "nothing relevant at all in this one honestly"),
            (4, "query merge vector spark query merge vector"),
        ],
        "doc_id bigint, text string",
    )
    out = textanalysis.bm25_topk(
        docs, "doc_id", "text", ["spark", "merge", "vector", "query"], k=4
    ).collect()
    ranked = [r["id"] for r in sorted(out, key=lambda r: r["rank"])]
    assert ranked[0] == 4          # hits all four terms, repeatedly
    assert 3 not in ranked         # zero hits -> absent entirely
    by_id = {r["id"]: r for r in out}
    assert by_id[4]["n_terms_hit"] == 4 and by_id[1]["n_terms_hit"] == 4
    assert by_id[2]["n_terms_hit"] == 1
    assert by_id[4]["bm25"] > by_id[2]["bm25"]


def test_compaction_plan_bins_respect_partitions_and_target(spark):
    from phenoxtract_spark.operators import layout

    files = spark.createDataFrame(
        [("a", 1, 60), ("a", 2, 60), ("a", 3, 60), ("a", 4, 60),
         ("b", 1, 250), ("b", 2, 10)],
        "part string, k bigint, size bigint",
    )
    out = {(r["part"], r["k"]): r["bin"] for r in
           layout.compaction_plan(files, ["part"], "k", "size", 100).collect()}
    # partition a: cum 60/120/180/240 -> bins floor((cum-size)/100) = 0,0,1,1
    assert [out[("a", k)] for k in (1, 2, 3, 4)] == [0, 0, 1, 1]
    # partition b restarts at bin 0 regardless of a's totals; the huge
    # file starts its own bin, the trailing small file lands after it
    assert out[("b", 1)] == 0 and out[("b", 2)] == 2


def test_grid_radius_join_matches_brute_force(spark):
    """Grid-bucketed spatial join must return EXACTLY the brute-force
    radius pairs inside the supported latitude band (the 3×3/cell-size
    recall contract), including across the lon=±180 seam being absent
    (no wraparound support claimed) and a known ~111 km pair."""
    import math

    from phenoxtract_spark.operators import geo

    pts = [(1, 0.0, 0.0), (2, 1.0, 0.0), (3, 0.0, 1.5), (4, 59.0, 10.0),
           (5, 59.0, 13.0), (6, -30.0, 100.0)]
    points = spark.createDataFrame(pts, "id bigint, lat double, lon double")
    queries = spark.createDataFrame(
        [(101, 0.0, 0.05), (102, 59.0, 11.5), (103, 40.0, -170.0)],
        "id bigint, lat double, lon double",
    )
    got = {(r["query_id"], r["point_id"])
           for r in geo.grid_radius_join(points, queries, radius_km=200.0,
                                         cell_deg=4.0).collect()}

    def hav(a, b, c, d):
        p1, p2 = math.radians(a), math.radians(c)
        dphi, dlam = math.radians(c - a) / 2, math.radians(d - b) / 2
        x = math.sin(dphi) ** 2 + math.cos(p1) * math.cos(p2) * math.sin(dlam) ** 2
        return 2 * 6371.0 * math.asin(math.sqrt(x))

    brute = {(q, p) for q, qla, qlo in
             [(101, 0.0, 0.05), (102, 59.0, 11.5), (103, 40.0, -170.0)]
             for p, pla, plo in pts if hav(qla, qlo, pla, plo) <= 200.0}
    assert got == brute
    assert (101, 1) in got and (101, 2) in got     # 5.6 km and ~111 km
    assert (102, 4) in got and (102, 5) in got     # lon-compressed at 59°
    assert all(q != 103 for q, _ in got)           # isolated query: no pairs


def test_grid_knn_rank_one_is_true_nearest(spark):
    from phenoxtract_spark.operators import geo

    points = spark.createDataFrame(
        [(1, 0.0, 0.0), (2, 0.0, 0.5), (3, 0.0, 1.0)],
        "id bigint, lat double, lon double",
    )
    queries = spark.createDataFrame(
        [(101, 0.0, 0.6)], "id bigint, lat double, lon double"
    )
    out = geo.grid_knn(points, queries, k=2, radius_km=200.0, cell_deg=4.0).collect()
    ranked = sorted(out, key=lambda r: r["rank"])
    assert [r["point_id"] for r in ranked] == [2, 3]  # 0.1° then 0.4° away
    assert ranked[0]["dist_km"] < ranked[1]["dist_km"]


def test_count_min_join_size_exact_without_collisions_and_upper_bound(spark):
    from phenoxtract_spark.operators import sketches

    a = spark.createDataFrame([(k,) for k in range(8) for _ in range(k + 1)], ["k"])
    b = spark.createDataFrame([(k,) for k in range(4) for _ in range(2)], ["k"])
    exact = 2 * sum(k + 1 for k in range(4))  # Σ f_a(k)·f_b(k)
    # wide sketch → 8 keys can't collide in every row: estimate is exact
    sa = sketches.count_min_build(a, "k", depth=4, width=4096, seed="t-js")
    sb = sketches.count_min_build(b, "k", depth=4, width=4096, seed="t-js")
    est = sketches.count_min_join_size(sa, sb).collect()[0][0]
    assert est == exact
    # narrow sketch → collisions only ever ADD mass: still an upper bound
    sa2 = sketches.count_min_build(a, "k", depth=2, width=4, seed="t-js")
    sb2 = sketches.count_min_build(b, "k", depth=2, width=4, seed="t-js")
    est2 = sketches.count_min_join_size(sa2, sb2).collect()[0][0]
    assert est2 >= exact


def test_kmv_set_estimates_algebra_and_accuracy(spark):
    from phenoxtract_spark.operators import sketches

    a = spark.createDataFrame([(i,) for i in range(0, 3000)], ["u"])
    b = spark.createDataFrame([(i,) for i in range(1500, 4500)], ["u"])
    row = sketches.kmv_set_estimates(a, b, "u", m=64).collect()[0]
    # m=64 → σ ≈ 12.5%; allow 4σ on the direct estimates
    assert abs(row.est_a - 3000) < 1500 and abs(row.est_b - 3000) < 1500
    assert abs(row.est_union - 4500) < 2000
    # identities that hold EXACTLY on the sketch, not just in expectation
    assert row.est_inter == max(row.est_a + row.est_b - row.est_union, 0)
    assert row.jaccard_est == round(row.est_inter / row.est_union, 4)
    # disjoint sets: union sketch == concatenation sketch → inter ≈ 0
    c = spark.createDataFrame([(i,) for i in range(10000, 13000)], ["u"])
    row2 = sketches.kmv_set_estimates(a, c, "u", m=64).collect()[0]
    assert row2.jaccard_est < 0.15


def test_dsir_select_prefers_target_like_pool_docs(spark):
    from pyspark.sql import functions as F
    from phenoxtract_spark.operators import curation

    # target seed (ids 0..9): medical prose; pool: 10 medical-like docs
    # (ids 100..109) and 30 web-spam-like docs (ids 200..229)
    med = "patient presented with acute fever and responded to treatment"
    spam = "click here buy now free offer limited deal win big prizes"
    rows = (
        [(i, med + f" case {i}") for i in range(10)]
        + [(100 + i, med + f" cohort {i}") for i in range(10)]
        + [(200 + i, spam + f" promo {i}") for i in range(30)]
    )
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = curation.dsir_select(
        df, "doc_id", "text", target_pred=F.col("doc_id") < 10,
        k=10, buckets=256,
    ).collect()
    assert len(out) == 10
    picked = {r.id for r in out}
    assert picked == set(range(100, 110))  # every medical pool doc outranks spam
    assert all(r.rank == i + 1 for i, r in enumerate(out))


def test_pcm_resample_matches_pure_python_reference(spark):
    import hashlib
    from phenoxtract_spark.operators import multimodal

    df = spark.createDataFrame([(1, "alpha"), (2, "beta")], ["doc_id", "text"])
    media = multimodal.synthetic_wav_media(df, "doc_id", "text", n_samples=64)
    got = {r.media_id: r for r in multimodal.pcm_resample_stats(media).collect()}
    for mid, text in [(1, "alpha"), (2, "beta")]:
        ks = multimodal.md5_keystream(
            hashlib.md5(text.encode()).hexdigest(), 128
        )
        x = [
            (ks[2 * i] + 256 * ks[2 * i + 1] + 32768) % 65536 - 32768
            for i in range(64)
        ]
        y = []
        for i in range(64):
            y.append(x[i])
            y.append((x[i] + x[i + 1]) // 2 if i < 63 else x[i])
        r = got[mid]
        assert r.n_out == 128 and r.sample_rate_out == 32000
        assert r.sum_abs == sum(abs(v) for v in y)
        assert r.sumsq == sum(v * v for v in y)


def test_image_meanpool_matches_numpy_reference_and_pins_layout(spark):
    import hashlib
    import numpy as np
    from phenoxtract_spark.operators import multimodal

    df = spark.createDataFrame([(7, "gamma")], ["doc_id", "text"])
    media = multimodal.synthetic_bmp_media(df, "doc_id", "text", width=8, height=4)
    r = multimodal.image_meanpool_stats(media).collect()[0]
    ks = multimodal.md5_keystream(hashlib.md5(b"gamma").hexdigest(), 8 * 4 * 3)
    a = np.frombuffer(ks, dtype=np.uint8).reshape(4, 8, 3).astype(np.int64)
    pooled = (a[0::2, 0::2] + a[0::2, 1::2] + a[1::2, 0::2] + a[1::2, 1::2]) // 4
    idx = np.arange(pooled.size, dtype=np.int64).reshape(pooled.shape)
    assert (r.out_w, r.out_h) == (4, 2)
    assert r.sum_r == int(pooled[:, :, 0].sum())
    assert r.possum == int(((idx + 1) * pooled).sum())
    # the checksum pins layout: a horizontal flip keeps the sums but not possum
    flipped = pooled[:, ::-1, :]
    assert int(((idx + 1) * flipped).sum()) != r.possum


def test_image_meanpool_odd_dimensions_crop_to_even(spark):
    """Odd width/height decode must pool over the even-cropped region
    instead of raising a numpy broadcast error in the executor (r6
    ADVICE: the registry only feeds even dims, but the library function
    has no such contract)."""
    import hashlib
    import numpy as np
    from phenoxtract_spark.operators import multimodal

    df = spark.createDataFrame([(9, "odd")], ["doc_id", "text"])
    media = multimodal.synthetic_bmp_media(df, "doc_id", "text", width=7, height=5)
    r = multimodal.image_meanpool_stats(media).collect()[0]
    ks = multimodal.md5_keystream(hashlib.md5(b"odd").hexdigest(), 7 * 5 * 3)
    a = np.frombuffer(ks, dtype=np.uint8).reshape(5, 7, 3).astype(np.int64)
    a = a[:4, :6]  # even crop
    pooled = (a[0::2, 0::2] + a[0::2, 1::2] + a[1::2, 0::2] + a[1::2, 1::2]) // 4
    idx = np.arange(pooled.size, dtype=np.int64).reshape(pooled.shape)
    assert (r.out_w, r.out_h) == (3, 2)
    assert r.sum_r == int(pooled[:, :, 0].sum())
    assert r.sum_g == int(pooled[:, :, 1].sum())
    assert r.sum_b == int(pooled[:, :, 2].sum())
    assert r.possum == int(((idx + 1) * pooled).sum())


def test_hll_sliding_distinct_windows_and_register_reuse(spark):
    from pyspark.sql import functions as F
    from phenoxtract_spark.operators import sketches

    # hours 100..103; user u appears only in hour 100
    rows = [(100, f"u{i}") for i in range(50)] + [(103, f"v{i}") for i in range(30)]
    df = spark.createDataFrame(rows, ["hr", "user"])
    out = {
        r.window_end_hr: r
        for r in sketches.hll_sliding_distinct(
            df, F.col("hr"), "user", window_hours=4, p=8
        ).collect()
    }
    # only hours present in data are emitted
    assert set(out) == {100, 103}
    # window ending at 103 spans 100..103 → all 80 users merged
    est_all = sketches.hll_distinct(
        df.select("user"), [], "user", p=8
    ).collect()[0].est_distinct
    assert out[103].est_distinct == est_all
    # window ending at 100 sees only hour 100
    est_100 = sketches.hll_distinct(
        df.filter(F.col("hr") == 100).select("user"), [], "user", p=8
    ).collect()[0].est_distinct
    assert out[100].est_distinct == est_100


def test_hilbert_key_matches_reference_and_is_locality_preserving(spark):
    from pyspark.sql import functions as F
    from phenoxtract_spark.operators import layout

    def ref_hilbert(x, y, bits=4):
        rx = ry = 0
        d = 0
        s = 1 << (bits - 1)
        while s > 0:
            rx = 1 if (x & s) > 0 else 0
            ry = 1 if (y & s) > 0 else 0
            d += s * s * ((3 * rx) ^ ry)
            if ry == 0:
                if rx == 1:
                    x, y = s - 1 - x, s - 1 - y
                x, y = y, x
            s //= 2
        return d

    n = 16
    pts = [(x, y) for x in range(n) for y in range(n)]
    df = spark.createDataFrame(pts, ["x", "y"])
    out = df.select(
        "x", "y", layout.hilbert_key_2d(F.col("x"), F.col("y"), bits=4).alias("d")
    ).collect()
    got = {(r.x, r.y): r.d for r in out}
    assert got == {(x, y): ref_hilbert(x, y) for x, y in pts}
    # the curve visits every cell once, and consecutive cells are adjacent
    by_d = sorted(got.items(), key=lambda kv: kv[1])
    assert [d for _, d in by_d] == list(range(n * n))
    for ((x1, y1), _), ((x2, y2), _) in zip(by_d, by_d[1:]):
        assert abs(x1 - x2) + abs(y1 - y2) == 1


def test_zonemap_prune_rule_and_soundness(spark):
    """A file is scanned iff its box intersects EVERY predicate range;
    pruning is SOUND (a pruned file contains no matching row) on a
    layout where file membership is known exactly."""
    from phenoxtract_spark.operators import layout

    rows = [(i, float(i % 10), float(i // 10)) for i in range(100)]
    df = spark.createDataFrame(rows, "id bigint, x double, y double")
    # range layout on x: 4 files, each a narrow x-band spanning all y
    boxes = layout.range_layout(df, "x", ["x", "y"], file_bits=2)
    pruned = {r["file_id"]: r for r in
              layout.zonemap_prune(boxes, [("x", 2.5, 4.5)]).collect()}
    assert len(pruned) == 4 and any(not r["scanned"] for r in pruned.values())
    # soundness: recompute each row's file id and check no pruned file
    # holds a matching row
    from pyspark.sql import functions as F
    stats = df.agg(F.min("x").alias("_lo"), F.max("x").alias("_hi"))
    fid = layout.scale_to_grid(F.col("x"), F.col("_lo"), F.col("_hi"), 2)
    assigned = df.crossJoin(F.broadcast(stats)).select(
        "x", fid.alias("file_id")
    ).collect()
    for r in assigned:
        if 2.5 <= r["x"] <= 4.5:
            assert pruned[r["file_id"]]["scanned"]
    # conjunction: an impossible second range prunes everything
    none = layout.zonemap_prune(
        boxes, [("x", 2.5, 4.5), ("y", 99.0, 100.0)]
    ).filter("scanned").count()
    assert none == 0
    # summary arithmetic
    s = layout.prune_summary(boxes, [("x", 2.5, 4.5)]).collect()[0]
    assert s["n_files"] == 4
    assert s["rows_scanned"] == sum(
        r["n_rows"] for r in pruned.values() if r["scanned"]
    )


def test_vad_segments_islands_and_threshold(spark):
    """Hand-checked VAD: mean of [10,10,100,100,10,100] is 55; frames
    2,3,5 are active (strict >), islands merge 2-3 and leave 5 alone;
    a uniform recording (all == mean) yields NO active frames."""
    from phenoxtract_spark.operators import multimodal

    rows = [("a", i, e) for i, e in enumerate([10, 10, 100, 100, 10, 100])]
    rows += [("b", i, 7) for i in range(4)]        # uniform: e*n == tot
    df = spark.createDataFrame(
        rows, "media_id string, frame_idx bigint, sumsq bigint"
    )
    out = [r.asDict() for r in multimodal.vad_segments(df)
           .orderBy("media_id", "seg_idx").collect()]
    assert [r["media_id"] for r in out] == ["a", "a"]
    assert (out[0]["start_frame"], out[0]["end_frame"],
            out[0]["n_frames"], out[0]["seg_sumsq"]) == (2, 3, 2, 200)
    assert (out[1]["start_frame"], out[1]["end_frame"]) == (5, 5)
    assert out[0]["seg_idx"] == 1 and out[1]["seg_idx"] == 2


def test_canonicalize_url_rules(spark):
    """Each rule in functions/urls.py, hand-checked: case, www, userinfo,
    default vs non-default port, tracker strip, param sort, trailing
    slash, empty path, fragment."""
    from pyspark.sql import functions as F
    from phenoxtract_spark.functions import urls

    cases = [
        ("HTTP://WWW.Ex.COM/A/", "http://ex.com/A"),          # case kept in path
        ("http://ex.com", "http://ex.com/"),                  # empty path -> /
        ("http://ex.com:80/x", "http://ex.com/x"),            # default port
        ("https://ex.com:443/x", "https://ex.com/x"),
        ("https://ex.com:8443/x", "https://ex.com:8443/x"),   # kept
        ("http://u:p@ex.com/x", "http://ex.com/x"),           # userinfo
        ("http://ex.com/x#frag", "http://ex.com/x"),          # fragment
        ("http://ex.com/x?utm_source=a&b=2&a=1&gclid=z",
         "http://ex.com/x?a=1&b=2"),                          # trackers + sort
        ("http://ex.com/x?utm_source=a", "http://ex.com/x"),  # all stripped
        ("http://ex.com/x/?ref=rss", "http://ex.com/x"),      # slash + ref
        ("http://ex.com/x?refresh=1", "http://ex.com/x?refresh=1"),  # not 'ref'
    ]
    df = spark.createDataFrame([(u,) for u, _ in cases], "url string")
    got = [r["c"] for r in
           df.select(urls.canonicalize_url(F.col("url")).alias("c")).collect()]
    assert got == [want for _, want in cases]


def test_shot_boundaries_detects_planted_cuts(spark):
    """Hand-built luma relation: three shots with deltas above the
    threshold split exactly at the cuts; a sub-threshold drift does NOT
    split; per-media independence holds."""
    from phenoxtract_spark.operators import multimodal

    rows = [
        # media 1: luma/pixel 10,10,10 | 100,100 | 30  (cuts at f3, f5)
        *[(1, 4, 2, f, v * 8) for f, v in enumerate([10, 10, 10, 100, 100, 30])],
        # media 2: drift of +5/pixel never exceeds the 8/pixel threshold
        *[(2, 4, 2, f, v * 8) for f, v in enumerate([10, 15, 20, 25])],
    ]
    luma = spark.createDataFrame(
        rows, "media_id bigint, width bigint, height bigint, "
              "frame_idx bigint, luma_sum bigint"
    )
    out = multimodal.shot_boundaries(luma, threshold_per_pixel=8)
    got = {
        (r.media_id, r.shot_id): (r.start_frame, r.end_frame, r.n_frames)
        for r in out.collect()
    }
    assert got == {
        (1, 0): (0, 2, 3), (1, 1): (3, 4, 2), (1, 2): (5, 5, 1),
        (2, 0): (0, 3, 4),
    }


def test_shot_media_roundtrip_matches_keystream(spark):
    """The planted-shot y4m stream decodes to constant luma planes whose
    byte replays from md5(seed || '-shot-' || s) — the oracle contract."""
    import hashlib
    from phenoxtract_spark.operators import multimodal

    df = spark.createDataFrame([(5, "clipdoc")], ["doc_id", "text"])
    media = multimodal.synthetic_y4m_shot_media(
        df, "doc_id", "text", width=4, height=2, n_frames=6, shot_len=2)
    luma = {r.frame_idx: r.luma_sum
            for r in multimodal.y4m_luma_stats(media, stride=1).collect()}
    seed = hashlib.md5(b"clipdoc").hexdigest()
    for f in range(6):
        b = int(hashlib.md5(f"{seed}-shot-{f // 2}".encode()).hexdigest()[:2], 16)
        assert luma[f] == b * 8


def test_onion_peel_layers_and_core(spark):
    """Hand-built graph: a 6-path peels two ends per round (layers
    1,1,2,2,3,3); a triangle plus a pendant keeps the triangle in the
    2-core and peels the pendant in round 1; an isolated node peels in
    round 1 with degree 0."""
    from phenoxtract_spark.operators import graph

    nodes = spark.createDataFrame([(i,) for i in range(1, 11)], "id bigint")
    edges = spark.createDataFrame(
        [
            # path 1-2-3-4-5-6
            (1, 2), (2, 3), (3, 4), (4, 5), (5, 6),
            # triangle 7-8-9 with pendant 10
            (7, 8), (8, 9), (7, 9), (9, 10),
        ],
        "id_a bigint, id_b bigint",
    )
    out = {r.id: (r.peel_round, r.in_core)
           for r in graph.onion_peel(nodes, edges, k=2, rounds=8).collect()}
    assert out[1] == (1, False) and out[6] == (1, False)
    assert out[2] == (2, False) and out[5] == (2, False)
    assert out[3] == (3, False) and out[4] == (3, False)
    assert out[7] == (0, True) and out[8] == (0, True) and out[9] == (0, True)
    assert out[10] == (1, False)  # pendant
    # edge pointing at a non-node must vanish, not crash or resurrect
    edges2 = edges.unionByName(
        spark.createDataFrame([(7, 999)], "id_a bigint, id_b bigint")
    )
    out2 = {r.id: r.in_core
            for r in graph.onion_peel(nodes, edges2, k=2, rounds=8).collect()}
    assert out2[7] is True and 999 not in out2


# anchors carry ``pos`` as INT (4 bytes off every row crossing the
# self-join shuffle) while the span surface contract stays BIGINT
def test_substring_anchor_pos_is_int_and_span_surface_bigint(spark):
    shared = "abcdefghijklmnopqrstuvwxyz0123456789ABCD"  # 40 distinct chars
    df = spark.createDataFrame(
        [(1, "first-" + shared), (2, shared + "-second"), (3, "zzz")],
        "doc_id bigint, text string",
    )
    anchors = dedup.substring_anchors(df, "doc_id", "text", gram=10)
    schema = {f.name: f.dataType for f in anchors.schema.fields}
    assert isinstance(schema["pos"], T.IntegerType), schema["pos"]
    assert isinstance(schema["h"], T.LongType)

    spans = dedup.duplicate_span_pairs(df, "doc_id", "text", gram=10)
    sschema = {f.name: f.dataType for f in spans.schema.fields}
    # the oracle contract: positions and lengths surface as BIGINT
    for col in ("start_a", "start_b", "span_len"):
        assert isinstance(sschema[col], T.LongType), (col, sschema[col])
    rows = spans.collect()
    assert len(rows) == 1
    r = rows[0]
    assert (r.id_a, r.id_b, r.start_a, r.start_b, r.span_len) == (1, 2, 6, 0, 40)
