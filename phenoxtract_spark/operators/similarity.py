"""Similarity search over embedding columns (SURVEY §7.2 step 9).

- brute-force cosine top-k: the correctness baseline.  Dot products run
  JVM-side via ``F.aggregate``/``F.zip_with``; top-k per query via window
  ``row_number``.
- IVF (inverted-file) bucketed variant: assign every vector to its nearest
  of C centroids, then only compare query/candidate pairs sharing a
  centroid — the 100 TB path: the self-join becomes |bucket|-bounded.
  Probing n>1 centroids trades recall for cost.
- random-hyperplane LSH: sign-bit signature via deterministic
  pseudo-random hyperplanes (md5-derived), bucket join on signature.

Hot-path note (r5): the O(n·C) / O(n·P) / O(Σ|bucket|²) kernels —
centroid assignment, plane projection, pair verification — are
BLAS-shaped and run as Arrow ``mapInPandas``/``pandas_udf`` batch passes
(per-element ``F.aggregate`` lambdas evaluate interpreted, measured
~600k pairs/s on 32 cores; the batch passes are 10-100× that).  Every
numpy fold accumulates SEQUENTIALLY over the dimension index, so the
ACCUMULATED floats stay bitwise-identical to the expression folds and to
the DuckDB oracles' unnest-ordered sums; the final decimal round
(``_round_half_up``) matches ``F.round`` except on doubles whose
shortest repr lands exactly on a rounding-boundary '.5' — a
~probability-0 event for generic cosine scores, the same argument that
underpins Spark-vs-DuckDB round parity (so end-to-end parity is
near-certain, not guaranteed).  Per-vector, output-bounded expressions
(brute-force baseline, quantization, mean-pool) stay JVM-side.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from .. import session


def dot(a: Column, b: Column) -> Column:
    """Dot product of two array<numeric> columns, accumulated in double."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def l2_norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v.cast("double") * v.cast("double")))


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (l2_norm(a) * l2_norm(b))


def brute_force_topk(
    vectors: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
    round_dp: int | None = 6,
) -> DataFrame:
    """Exact top-k cosine neighbors for each query vector.
    ``queries`` is small (broadcast); candidates stream map-side, so the only
    shuffle is the per-query top-k aggregation.  Self-matches excluded.
    Returns (query_id, neighbor_id, cos, rank)."""
    # norms are precomputed ONCE per side: cosine() inline would re-run two
    # l2_norm aggregates for every (query, candidate) pair — 3 higher-order
    # aggregates per pair instead of 1.  Numerically identical (same
    # operands, same op order), ~3× less HOF work.
    q = F.broadcast(
        queries.select(
            F.col(id_col).alias("query_id"),
            F.col(vec_col).alias("qv"),
            l2_norm(F.col(vec_col)).alias("_qn"),
        )
    )
    c = vectors.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("cv"),
        l2_norm(F.col(vec_col)).alias("_cn"),
    )
    raw = dot(F.col("qv"), F.col("cv")) / (F.col("_qn") * F.col("_cn"))
    # rank on the ROUNDED score: makes the top-k boundary deterministic
    # across engines despite summation-order ulp differences
    scored = (
        c.crossJoin(q)
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            (F.round(raw, round_dp) if round_dp is not None else raw).alias("cos"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cos").desc(), F.col("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cos", F.col("rank").cast("bigint").alias("rank"))
    )


def _round_half_up(arr, dp: int = 6):
    """Vectorized decimal rounding matching ``F.round`` (HALF_UP, away from
    zero) closely enough for 6-dp cosine scores: generic doubles land
    within one ulp of a decimal .5 boundary with probability ~0 (the same
    argument that already underpins Spark-vs-DuckDB round parity)."""
    import numpy as np

    scale = 10.0 ** dp
    return np.copysign(np.floor(np.abs(arr) * scale + 0.5), arr) / scale


def assign_ivf_centroid(vectors: DataFrame, centroids: DataFrame,
                        id_col: str = "vec_id", vec_col: str = "embedding",
                        nprobe: int = 1, keep_vec: bool = False) -> DataFrame:
    """IVF assignment: nearest centroid(s) by cosine.  Returns
    (id, centroid_id) — one row per probed centroid (``nprobe`` > 1 emits
    the top-``nprobe``; standard IVF probing for the query side).

    Implementation (r5): the n·|centroids| dot-product pass is BLAS-shaped
    — per-pair ``F.aggregate`` lambdas are interpreted (not codegen'd) and
    the crossJoin materializes n·C intermediate rows, measured ~600k
    pairs/s on 32 cores.  Instead the centroid matrix (|C| = √n by caller
    construction — the same bounded pre-resolve→broadcast pattern as the
    ontology dims) ships to every partition and one Arrow ``mapInPandas``
    pass scores each batch against all centroids at once.  No crossJoin,
    no shuffle, output is exactly the (id, centroid_id) relation.

    Numeric parity: the dot and norm accumulate SEQUENTIALLY over the
    dimension index (a vectorized loop over d, not ``np.dot``'s pairwise
    summation), which is the exact fold order of the old ``F.aggregate``
    path and of the DuckDB oracle's unnest-ordered ``sum`` — bitwise for
    the accumulation; the final 6-dp ``_round_half_up`` matches
    ``F.round`` except on ~probability-0 '.5'-boundary doubles (see the
    module docstring), and the (cos desc, centroid_id asc) tie-break
    replays the old window rank.

    ``keep_vec`` (r12) additionally emits the input vector as a third
    column ``v`` — the batch already holds it, so this is free — letting
    a bucketed self-join downstream carry the payload through its ONE
    bucket-keyed shuffle instead of re-joining the corpus by id twice
    (guide §2.4/§3: the ``ivf_neardup_pairs`` restructure)."""
    import numpy as np
    import pandas as pd

    cen_rows = centroids.select(
        F.col(id_col).alias("cid"), F.col(vec_col).alias("cv")
    ).collect()
    cen_rows.sort(key=lambda r: r["cid"])
    id_type = vectors.schema[id_col].dataType.simpleString()
    # centroid ids come from the CENTROIDS frame — type the output column
    # from its schema, not the vectors' (r5 ADVICE; kmeans_assign already
    # does this with cid_type)
    cid_type = centroids.schema[id_col].dataType.simpleString()
    if not cen_rows:
        return vectors.sparkSession.createDataFrame(
            [], f"id {id_type}, centroid_id {cid_type}"
        )
    C = np.array([np.asarray(r["cv"], dtype=np.float64) for r in cen_rows])
    dim = C.shape[1]
    cn = np.zeros(C.shape[0])
    for d in range(dim):  # sequential fold — see docstring
        cn += C[:, d] * C[:, d]
    cn = np.sqrt(cn)
    cids = np.array([r["cid"] for r in cen_rows])
    m = len(cids)
    np_ = int(nprobe)

    v = vectors.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v"))
    # CPU-dense per byte: a small embeddings file packed into 1-2 scan
    # splits serializes the whole pass — fan out to cluster parallelism
    # (no-op at scale, where inputs arrive with >= parallelism splits)
    from ..session import fan_out

    v = fan_out(v)
    # keep each (rows × centroids) score block ~32 MB
    row_chunk = max(1, int(4_000_000 // m))

    def run(batches):
        for pdf in batches:
            for lo in range(0, len(pdf), row_chunk):
                part = pdf.iloc[lo : lo + row_chunk]
                if not len(part):
                    continue
                V = np.array(
                    [np.asarray(x, dtype=np.float64) for x in part["v"]]
                )
                acc = np.zeros((len(part), m))
                vn = np.zeros(len(part))
                for d in range(dim):  # sequential fold over the dimension
                    acc += V[:, d : d + 1] * C[None, :, d]
                    vn += V[:, d] * V[:, d]
                cos = _round_half_up(acc / (np.sqrt(vn)[:, None] * cn[None, :]))
                # Degenerate zero-norm vectors score NaN: the Spark window
                # this kernel replaced ordered cos DESC with NaN as the
                # GREATEST double (DuckDB ORDER BY agrees), while numpy's
                # argsort(-cos) would sort NaN last — map NaN to +inf so
                # both probe branches keep the engine ordering (r5 ADVICE).
                cos = np.where(np.isnan(cos), np.inf, cos)
                if np_ == 1:
                    # argmax returns the FIRST max; cids sorted asc → ties
                    # break to the lowest centroid_id, like the old window
                    sel = cids[np.argmax(cos, axis=1)]
                    ids = part["id"].values
                    vecs = part["v"].values
                else:
                    order = np.argsort(-cos, axis=1, kind="stable")[:, :np_]
                    sel = cids[order].ravel()
                    ids = np.repeat(part["id"].values, np_)
                    vecs = np.repeat(part["v"].values, np_)
                out = {"id": ids, "centroid_id": sel}
                if keep_vec:
                    out["v"] = vecs
                yield pd.DataFrame(out)

    schema = f"id {id_type}, centroid_id {cid_type}"
    if keep_vec:
        schema += f", v {vectors.schema[vec_col].dataType.simpleString()}"
    return v.mapInPandas(run, schema=schema)


def ivf_topk(vectors: DataFrame, queries: DataFrame, centroids: DataFrame,
             id_col: str = "vec_id", vec_col: str = "embedding", k: int = 10,
             round_dp: int | None = 6, nprobe: int = 1) -> DataFrame:
    """Approximate top-k: compare only pairs sharing a centroid bucket.

    ``nprobe`` probes the query's top-n buckets (neighbors stay in exactly
    one, so no pair is scored twice and no dedup pass is needed): recall
    rises toward brute force at cost ∝ nprobe × bucket size — the standard
    IVF recall/cost dial."""
    # same discipline as ivf_neardup_pairs: the assignment subtree is the
    # n·|centroids| dot-product pass and it feeds BOTH the neighbor-side
    # and the query-side joins below — materialize its two-column output
    # once so the expensive pass can never execute twice (r5: measured
    # 5-8 s → ~2.5 s at sf1; the r4 one-shot 4.7 s was this re-execution)
    assign = session.materialize(assign_ivf_centroid(vectors, centroids, id_col, vec_col))
    v = vectors.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("cv"),
        l2_norm(F.col(vec_col)).alias("_cn"),
    ).join(assign.withColumnRenamed("id", "neighbor_id"), "neighbor_id")
    # Reuse the corpus assignment for the query side ONLY in the common
    # queries-are-the-corpus case; a distinct queries frame needs its own
    # assignment pass or absent query ids silently produce zero rows
    # (r5 ADVICE).
    qassign = (
        assign
        if nprobe == 1 and queries is vectors
        else assign_ivf_centroid(queries, centroids, id_col, vec_col, nprobe=nprobe)
    )
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("qv"),
        l2_norm(F.col(vec_col)).alias("_qn"),
    ).join(qassign.withColumnRenamed("id", "query_id"), "query_id")
    raw = dot(F.col("qv"), F.col("cv")) / (F.col("_qn") * F.col("_cn"))
    scored = (
        v.join(q, "centroid_id")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            (F.round(raw, round_dp) if round_dp is not None else raw).alias("cos"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cos").desc(), F.col("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cos", F.col("rank").cast("bigint").alias("rank"))
    )


def _pq_codebook(samples: DataFrame, num_codes: int, id_col: str,
                 vec_col: str):
    """(num_codes, dim) codebook matrix from the first ``num_codes``
    sample rows ordered by id — code c = sorted position c."""
    rows = samples.select(
        F.col(id_col).alias("sid"), F.col(vec_col).alias("sv")
    ).collect()
    rows.sort(key=lambda r: r["sid"])
    rows = rows[:num_codes]
    return np.array([np.asarray(r["sv"], dtype=np.float64) for r in rows])


def _pq_block_d2(X, CB, M: int, scale: float):
    """(len(X), M, S) rounded squared-L2 per sub-block.  The fold over the
    D in-block dims is SEQUENTIAL (vectorized across rows/codes) — the
    engine-parity discipline shared by every r5 Arrow kernel."""
    S, dim = CB.shape
    D = dim // M
    acc = np.zeros((len(X), M, S))
    for d in range(D):
        cols = [m * D + d for m in range(M)]
        xv = X[:, cols]  # (n, M)
        cv = CB[:, cols]  # (S, M)
        diff = xv[:, :, None] - cv.T[None, :, :]  # (n, M, S)
        acc += diff * diff
    return np.floor(acc * scale + 0.5) / scale  # F.round, d2 >= 0


def pq_encode_long(vectors: DataFrame, CB, num_subspaces: int,
                   id_col: str = "vec_id", vec_col: str = "embedding",
                   round_dp: int = 6) -> DataFrame:
    """PQ-encode the corpus to LONG form (id, m, code) — the relational
    shape a bucket-restricted ADC join consumes (ivfpq_topk).  One Arrow
    pass; ties on the rounded block distance break to the lowest code
    (CB rows are in sorted-sample order)."""
    M = int(num_subspaces)
    scale = 10.0 ** round_dp
    id_type = vectors.schema[id_col].dataType.simpleString()
    v = vectors.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v"))
    from ..session import fan_out

    v = fan_out(v)

    def run(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            X = np.array([np.asarray(x, dtype=np.float64) for x in pdf["v"]])
            codes = np.argmin(_pq_block_d2(X, CB, M, scale), axis=2)  # (n, M)
            n = len(pdf)
            yield pd.DataFrame(
                {
                    "id": np.repeat(pdf["id"].values, M),
                    "m": np.tile(np.arange(M, dtype=np.int64), n),
                    "code": codes.ravel().astype(np.int64),
                }
            )

    return v.mapInPandas(run, schema=f"id {id_type}, m bigint, code bigint")


def ivfpq_topk(vectors: DataFrame, queries: DataFrame, centroids: DataFrame,
               samples: DataFrame, num_subspaces: int = 8, num_codes: int = 16,
               k: int = 10, nprobe: int = 1, id_col: str = "vec_id",
               vec_col: str = "embedding", round_dp: int = 6) -> DataFrame:
    """IVF-PQ with ADC — the standard production ANN architecture (the
    FAISS default): a coarse quantizer (IVF centroids) restricts each
    query to its ``nprobe`` nearest buckets, and within a bucket the
    ranking runs on PQ codes via the query's ADC table — the corpus is
    never decoded and the scored relation is nprobe·|bucket| per query.

    Composition of two verified pieces: :func:`assign_ivf_centroid`
    (Arrow kernel, materialized once — it feeds both the neighbor and
    query sides) and the PQ encode/ADC machinery of :func:`pq_topk`,
    here in RELATIONAL form: codes live in a long (id, m, code) relation
    and the per-query ADC tables in a broadcast (query_id, m, code, d2)
    dim, so the scoring join + per-pair sum + top-k window are all JVM
    built-ins.  Returns (query_id, neighbor_id, approx_d2, rank)."""
    CB = _pq_codebook(samples, num_codes, id_col, vec_col)
    M = int(num_subspaces)
    if CB.shape[1] % M:
        raise ValueError(
            f"dim {CB.shape[1]} not divisible by num_subspaces {M}"
        )
    scale = 10.0 ** round_dp
    assign = session.materialize(assign_ivf_centroid(vectors, centroids, id_col, vec_col))
    # same queries-are-the-corpus guard as ivf_topk (r5 ADVICE): a
    # distinct queries frame always gets its own assignment pass
    qassign = (
        assign
        if nprobe == 1 and queries is vectors
        else assign_ivf_centroid(queries, centroids, id_col, vec_col, nprobe=nprobe)
    )
    enc = pq_encode_long(vectors, CB, M, id_col, vec_col, round_dp)
    # per-query ADC tables: |q|·M·S rows, a broadcast dim
    query_rows = queries.select(
        F.col(id_col).alias("qid"), F.col(vec_col).alias("qv")
    ).collect()
    query_rows.sort(key=lambda r: r["qid"])
    Q = np.array([np.asarray(r["qv"], dtype=np.float64) for r in query_rows])
    dtab = _pq_block_d2(Q, CB, M, scale) if len(query_rows) else None
    id_type = vectors.schema[id_col].dataType.simpleString()
    spark = vectors.sparkSession
    qd_rows = [
        (r["qid"], int(m), int(c), float(dtab[qi, m, c]))
        for qi, r in enumerate(query_rows)
        for m in range(M)
        for c in range(CB.shape[0])
    ]
    qd = F.broadcast(
        spark.createDataFrame(
            qd_rows, f"query_id {id_type}, m bigint, code bigint, d2 double"
        )
    )
    pairs = (
        qassign.select(F.col("id").alias("query_id"), "centroid_id")
        .join(
            assign.select(F.col("id").alias("neighbor_id"), "centroid_id"),
            "centroid_id",
        )
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id")
    )
    approx = (
        pairs.join(enc.withColumnRenamed("id", "neighbor_id"), "neighbor_id")
        .join(qd, ["query_id", "m", "code"])
        .groupBy("query_id", "neighbor_id")
        .agg(F.round(F.sum("d2"), round_dp).alias("approx_d2"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("approx_d2").asc(), F.col("neighbor_id").asc()
    )
    return (
        approx.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "query_id", "neighbor_id", "approx_d2",
            F.col("rank").cast("bigint").alias("rank"),
        )
    )


def pq_topk(vectors: DataFrame, queries: DataFrame, samples: DataFrame,
            num_subspaces: int = 8, num_codes: int = 16, k: int = 10,
            id_col: str = "vec_id", vec_col: str = "embedding",
            round_dp: int = 6) -> DataFrame:
    """Product-quantization ANN with asymmetric distance computation (ADC)
    — the fourth standard ANN path next to brute-force / IVF / LSH, and
    the memory-compression one: each vector stores only ``num_subspaces``
    small codes (here 8 codes ≈ 8 bytes vs 256 bytes of floats, the
    32× compression that makes 100 TB of embeddings RAM-resident).

    Training-free deterministic codebooks: the first ``num_codes``
    ``samples`` rows (ordered by id — a strided slice of the corpus, same
    convention as the IVF centroids) supply codeword c's sub-block for
    every subspace.  Encoding: per vector and subspace m, the code is the
    argmin of the rounded squared L2 between the vector's m-th sub-block
    and each codeword's (ties → lowest code).  Query scoring never
    decodes: a per-query distance TABLE (query sub-block vs every
    codeword, the ADC table) is summed over subspaces at the stored
    codes, re-rounded, and ranked (approx asc, neighbor id asc).

    Recall posture: ADC approximates the L2 ranking and quality is
    governed by codebook fit — training-free strided codebooks keep the
    whole path deterministic and oracle-replayable (genuinely close
    vectors still rank first: an exact duplicate scores approx 0,
    pinned in tests), but production recall on real corpora wants
    k-means-trained per-subspace codebooks (operators/clustering
    provides the trainer) and L2-normalized inputs when the target
    metric is cosine.  Same note applies to :func:`ivfpq_topk`.

    Scale shape: codebooks and the query ADC table are KB-sized driver
    arrays shipped with the closure (the bounded pre-resolve→broadcast
    pattern); encode+score is ONE Arrow ``mapInPandas`` pass over the
    corpus emitting |queries|·n narrow rows; the only shuffle is the
    per-query top-k window.  All folds accumulate sequentially (subspace
    dims, then subspaces) — same engine-parity discipline as the other
    r5 Arrow kernels.  Returns (query_id, neighbor_id, approx_d2, rank)."""
    CB = _pq_codebook(samples, num_codes, id_col, vec_col)
    S = CB.shape[0]
    query_rows = queries.select(
        F.col(id_col).alias("qid"), F.col(vec_col).alias("qv")
    ).collect()
    query_rows.sort(key=lambda r: r["qid"])
    Q = np.array([np.asarray(r["qv"], dtype=np.float64) for r in query_rows])
    qids = np.array([r["qid"] for r in query_rows])
    dim = CB.shape[1]
    M = int(num_subspaces)
    if dim % M:
        raise ValueError(f"dim {dim} not divisible by num_subspaces {M}")
    scale = 10.0 ** round_dp

    def _block_d2(X):
        return _pq_block_d2(X, CB, M, scale)

    dtab = _block_d2(Q)  # (|q|, M, S) — the ADC tables
    id_type = vectors.schema[id_col].dataType.simpleString()
    v = vectors.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v"))
    from ..session import fan_out

    v = fan_out(v)

    def run(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            V = np.array([np.asarray(x, dtype=np.float64) for x in pdf["v"]])
            d2 = _block_d2(V)  # (n, M, S)
            codes = np.argmin(d2, axis=2)  # first min → lowest code on ties
            n = len(pdf)
            ids = pdf["id"].values
            rows_q, rows_n, rows_d = [], [], []
            for qi in range(len(qids)):
                # ADC: sum the query's table at the stored codes,
                # SEQUENTIALLY over subspaces
                approx = np.zeros(n)
                for m in range(M):
                    approx += dtab[qi, m, codes[:, m]]
                approx = np.floor(approx * scale + 0.5) / scale
                mask = ids != qids[qi]
                rows_q.append(np.full(mask.sum(), qids[qi]))
                rows_n.append(ids[mask])
                rows_d.append(approx[mask])
            yield pd.DataFrame(
                {
                    "query_id": np.concatenate(rows_q),
                    "neighbor_id": np.concatenate(rows_n),
                    "approx_d2": np.concatenate(rows_d),
                }
            )

    scored = v.mapInPandas(
        run,
        schema=f"query_id {id_type}, neighbor_id {id_type}, approx_d2 double",
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("approx_d2").asc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "query_id", "neighbor_id", "approx_d2",
            F.col("rank").cast("bigint").alias("rank"),
        )
    )


def plane_components(seed: int, num_planes: int, dim: int) -> list[list[float]]:
    """±1 hyperplane components: component (p, j) = +1 iff the first 8 hex
    chars of md5(f"{seed}|{p}|{j}") are even.  Reproducible in any engine
    (the SQL oracle derives the identical planes from md5)."""
    import hashlib

    return [
        [
            1.0
            if int(hashlib.md5(f"{seed}|{p}|{j}".encode()).hexdigest()[:8], 16) % 2 == 0
            else -1.0
            for j in range(dim)
        ]
        for p in range(num_planes)
    ]


def hyperplane_signature(vectors: DataFrame, dim: int, num_planes: int = 16,
                         id_col: str = "vec_id", vec_col: str = "embedding",
                         seed: int = 42, round_dp: int = 6,
                         extra_cols: list[str] | None = None,
                         keep_vec: bool = False) -> DataFrame:
    """Random-hyperplane LSH signature.  Signature bit p = sign of the
    vector's dot product with deterministic plane p (see
    :func:`plane_components`).  Returns (id, sig bigint).

    ``extra_cols`` / ``keep_vec`` (r12, guide §2.4): passthrough columns
    (and the vector itself as ``v``) ride the Arrow batch for free —
    callers that previously re-joined the corpus by id just to attach a
    label or the vector to the signature (one full id-keyed shuffle per
    attachment) read them straight off the kernel's output instead.

    Scale notes: ``dim`` is a parameter (it's schema knowledge — no
    ``.first()`` driver probe).  The dot is rounded before the sign test
    so the bit is stable under summation-order ulp differences across
    engines (same discipline as every cosine in this module).

    Implementation (r5): the n×P plane projection is the same BLAS-shaped
    interpreted-HOF hotspot as :func:`assign_ivf_centroid` — the P×dim
    plane matrix (derived from the seed, a few KB) ships to every
    partition and one Arrow ``mapInPandas`` pass projects each batch onto
    all planes, with the dot fold accumulated SEQUENTIALLY over the
    dimension index — bitwise-equal to the old per-plane ``F.aggregate``
    fold and the oracle's unnest-ordered sum.  Bit packing stays exact
    int64 arithmetic."""
    planes = np.array(plane_components(seed, num_planes, dim))  # (P, dim)
    pows = 2 ** np.arange(num_planes, dtype=np.int64)
    id_type = vectors.schema[id_col].dataType.simpleString()
    extra = list(extra_cols or [])
    v = vectors.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v"),
                       *extra)
    from ..session import fan_out

    v = fan_out(v)

    def run(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            V = np.array([np.asarray(x, dtype=np.float64) for x in pdf["v"]])
            acc = np.zeros((len(pdf), num_planes))
            for d in range(dim):  # sequential fold — see docstring
                acc += V[:, d : d + 1] * planes[None, :, d]
            sig = ((_round_half_up(acc, round_dp) > 0) * pows[None, :]).sum(axis=1)
            out = {"id": pdf["id"].values, "sig": sig}
            for c in extra:
                out[c] = pdf[c].values
            if keep_vec:
                out["v"] = pdf["v"].values
            yield pd.DataFrame(out)

    schema = f"id {id_type}, sig bigint"
    for c in extra:
        schema += f", {c} {vectors.schema[c].dataType.simpleString()}"
    if keep_vec:
        schema += f", v {vectors.schema[vec_col].dataType.simpleString()}"
    return v.mapInPandas(run, schema=schema)


def hyperplane_candidate_pairs(vectors: DataFrame, dim: int, num_planes: int = 16,
                               rows_per_band: int = 4, id_col: str = "vec_id",
                               vec_col: str = "embedding", seed: int = 42) -> DataFrame:
    """LSH candidate pairs: band the signature into ``num_planes /
    rows_per_band`` bands of ``rows_per_band`` sign bits; candidates = pairs
    agreeing on ALL bits of ≥1 band.  The self-join key is (band, band
    bits), so pairs only ever meet inside a bucket — never all-pairs.
    Returns distinct (id_a, id_b), id_a < id_b."""
    from .dedup import banded_pairs

    # (id, sig) is narrow but its subtree is the plane-projection pass;
    # banded_pairs consumes it on both join sides — materialize once
    sig = session.materialize(
        hyperplane_signature(vectors, dim, num_planes, id_col, vec_col, seed)
    )
    return banded_pairs(sig, bits=num_planes, band_width=rows_per_band,
                        id_col="id", fp_col="sig")


def pair_cos_rounded(round_dp: int = 6):
    """Arrow-vectorized rounded cosine over two array columns of one
    relation — the per-PAIR twin of the r5 ``assign_ivf_centroid`` path.
    ``F.aggregate`` lambdas evaluate interpreted per pair; this scores a
    whole Arrow batch per numpy pass, with the dot/norm folds accumulated
    SEQUENTIALLY over the dimension index so the accumulated floats are
    bitwise-equal to the old ``dot``/``l2_norm`` expressions and the
    DuckDB oracle's unnest-ordered sums (final-round caveat: see the
    module docstring on ``_round_half_up``)."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("double")
    def _cos(va: pd.Series, vb: pd.Series) -> pd.Series:
        if not len(va):
            return pd.Series([], dtype="float64")
        A = np.array([np.asarray(x, dtype=np.float64) for x in va])
        B = np.array([np.asarray(x, dtype=np.float64) for x in vb])
        d_ = np.zeros(len(va))
        na = np.zeros(len(va))
        nb = np.zeros(len(va))
        for d in range(A.shape[1]):  # sequential fold — see docstring
            d_ += A[:, d] * B[:, d]
            na += A[:, d] * A[:, d]
            nb += B[:, d] * B[:, d]
        return pd.Series(_round_half_up(d_ / (np.sqrt(na) * np.sqrt(nb)), round_dp))

    return _cos


def ivf_neardup_pairs(vectors: DataFrame, centroids: DataFrame,
                      threshold: float = 0.4, id_col: str = "vec_id",
                      vec_col: str = "embedding", round_dp: int = 6) -> DataFrame:
    """Near-duplicate pairs via IVF buckets: assign every vector to its
    nearest centroid (broadcast dim), generate pairs ONLY within a bucket,
    then cosine-verify.  Σ|bucket|² work instead of |corpus|²; with C
    centroids ∝ corpus size the cost is linear in the corpus.  Approximate:
    a near-dup pair straddling two buckets is missed (near-identical
    vectors share a nearest centroid with high probability — the recall
    gate in tests measures this against brute force).
    Returns (id_a, id_b, cos).

    Shape (r12, guide §2.3/§4.1/§8 — move the heavy bytes once): the old
    phrasing self-joined the assignment on centroid_id, MATERIALIZING the
    Σ|bucket|² pair list as JVM rows each carrying TWO full float arrays,
    then shipped both arrays per pair through Arrow into a pandas_udf —
    the payload crossed the shuffle and the Python boundary once PER PAIR.
    Now the verification is bucket-local ``applyInPandas``: one shuffle of
    n (id, vector) rows keyed by centroid, and inside each bucket the pair
    enumeration, the cosine fold, and the threshold filter all run in one
    numpy pass — every vector crosses the boundary once per bucket, and
    only the SURVIVING pairs (dup-density-sized, arrays dropped) return to
    the JVM.  Arrow bytes per bucket fall from 2·|bucket|²·dim to
    |bucket|·dim.

    Numeric parity is preserved fold-for-fold (bitwise, same argument as
    ``pair_cos_rounded``): per-vector norms accumulate sequentially over
    the dimension index exactly as the per-pair kernel accumulated them,
    the pair dot is the same sequential fold, and the threshold keeps
    Spark's NaN-is-greatest comparison semantics (a NaN cosine — zero-norm
    vector — passes ``>= threshold`` in Spark SQL and DuckDB alike, so it
    passes here too)."""
    import numpy as np
    import pandas as pd

    id_type = vectors.schema[id_col].dataType.simpleString()
    assign = assign_ivf_centroid(vectors, centroids, id_col, vec_col,
                                 keep_vec=True)
    # pair-index chunk bound: caps the per-slice gather at ~dim·8·2·CHUNK
    # bytes even on a degenerate giant bucket (the Σ|bucket|² work itself
    # is the algorithm's contract; this bounds MEMORY, not work)
    chunk = 2_000_000

    def verify(pdf: pd.DataFrame) -> pd.DataFrame:
        out_a, out_b, out_c = [], [], []
        m = len(pdf)
        if m >= 2:
            order = np.argsort(pdf["id"].values, kind="stable")
            ids = pdf["id"].values[order]
            V = np.array(
                [np.asarray(x, dtype=np.float64) for x in pdf["v"].values[order]]
            )
            dim = V.shape[1]
            # per-vector norm: the same sequential fold over d the per-pair
            # kernel ran (na += a_d*a_d), hoisted to once per vector —
            # identical adds in identical order, so sqrt(nrm) is bitwise
            # equal to the per-pair recomputation it replaces
            sq = np.zeros(m)
            for d in range(dim):
                sq += V[:, d] * V[:, d]
            nrm = np.sqrt(sq)
            ia, ib = np.triu_indices(m, k=1)
            for lo in range(0, len(ia), chunk):
                sa, sb = ia[lo : lo + chunk], ib[lo : lo + chunk]
                A, B = V[sa], V[sb]
                dot = np.zeros(len(sa))
                for d in range(dim):  # sequential fold — see docstring
                    dot += A[:, d] * B[:, d]
                cos = _round_half_up(dot / (nrm[sa] * nrm[sb]), round_dp)
                # Spark/DuckDB order NaN above every double, so a NaN cos
                # passes `cos >= threshold`; numpy's NaN >= x is False —
                # replicate the engine semantics explicitly
                keep = (cos >= threshold) | np.isnan(cos)
                out_a.append(ids[sa[keep]])
                out_b.append(ids[sb[keep]])
                out_c.append(cos[keep])
        if not out_a:
            return pd.DataFrame({"id_a": pd.Series([], dtype=pdf["id"].dtype),
                                 "id_b": pd.Series([], dtype=pdf["id"].dtype),
                                 "cos": pd.Series([], dtype="float64")})
        return pd.DataFrame({"id_a": np.concatenate(out_a),
                             "id_b": np.concatenate(out_b),
                             "cos": np.concatenate(out_c)})

    return assign.groupBy("centroid_id").applyInPandas(
        verify, schema=f"id_a {id_type}, id_b {id_type}, cos double"
    )


def quantize_embeddings(df: DataFrame, id_col: str = "vec_id",
                        vec_col: str = "embedding") -> DataFrame:
    """Per-vector int8-style scale quantization (the storage layout an ANN
    index serves from): min/max → 0..255 codes → reconstruction-error
    report.  Pure expression projection, zero shuffles; a 100 TB corpus
    quantizes in one map pass and shrinks 4× before any index build.
    Returns (id, q_min, q_max, q_sum, recon_mse) — the code sum and MSE
    pin the exact quantized content without shipping the codes."""
    d = df.select(
        F.col(id_col).alias("id"),
        F.expr(f"transform({vec_col}, x -> cast(x as double))").alias("e"),
    )
    d = d.select(
        "id", "e",
        F.array_min("e").alias("mn"),
        F.array_max("e").alias("mx"),
    ).withColumn(
        "sc",
        F.when(F.col("mx") > F.col("mn"), (F.col("mx") - F.col("mn")) / 255.0),
    )
    d = d.withColumn(
        "q",
        F.when(
            F.col("sc").isNull(),
            F.expr("transform(e, x -> cast(0 as bigint))"),
        ).otherwise(
            F.expr("transform(e, x -> cast(round((x - mn) / sc) as bigint))")
        ),
    )
    mse = F.when(F.col("sc").isNull(), F.lit(0.0)).otherwise(
        F.expr(
            "aggregate(zip_with(e, q, (x, qi) -> pow(x - (mn + qi * sc), 2)),"
            " cast(0 as double), (a, x) -> a + x)"
        )
        / F.size("e")
    )
    return d.select(
        F.col("id"),
        F.round("mn", 6).alias("q_min"),
        F.round("mx", 6).alias("q_max"),
        F.expr("aggregate(q, cast(0 as bigint), (a, x) -> a + x)").alias("q_sum"),
        F.round(mse, 8).alias("recon_mse"),
    )


def ring_negatives(df: DataFrame, id_col: str = "vec_id",
                   label_col: str = "label", k: int = 4,
                   shards: int = 16, seed: str = "neg-v1") -> DataFrame:
    """Deterministic negative sampling for contrastive training: order each
    md5 shard's vectors on a hash ring and pair every anchor with its next
    ``k`` ring neighbors.  Hash order is label-independent, so neighbors
    are uniform pseudo-random negatives — reproducible across engines,
    runs, and cluster layouts (unlike ``rand()`` sampling).  Same-label
    collisions are flagged, not silently dropped, so the trainer decides.
    Returns (anchor_id, neg_rank, neg_id, same_label).

    Scale: rings are per-shard (pack_sequences-style), so the only window
    sort is within a shard — no global ordering — and the neighbor lookup
    is an equi-join on (shard, position).  Cost is one shuffle + k rows
    per anchor.

    Wrap behavior: on a shard with ``cnt <= k`` members the ring wraps, so
    an anchor's k negatives can repeat the same neg_id at different
    neg_rank, and a singleton shard yields ZERO negatives for its anchor
    (the only ring neighbor is itself, which is excluded).  The DuckDB
    oracle wraps identically, so parity holds — but consumers needing k
    DISTINCT negatives per anchor must deduplicate on (anchor_id, neg_id)
    or size ``shards`` so every shard comfortably exceeds k+1 members."""
    from pyspark.sql.window import Window

    h = F.md5(F.concat_ws("|", F.lit(seed), F.col(id_col).cast("string")))
    base = df.select(
        F.col(id_col).alias("id"),
        F.col(label_col).alias("lbl"),
        F.pmod(
            F.conv(F.substring(h, 1, 8), 16, 10).cast("bigint"), F.lit(shards)
        ).alias("shard"),
        h.alias("_h"),
    )
    w = Window.partitionBy("shard").orderBy("_h", "id")
    wn = Window.partitionBy("shard")
    ranked = session.materialize(
        base.select(
            "id", "lbl", "shard",
            F.row_number().over(w).alias("pos"),
            F.count(F.lit(1)).over(wn).alias("cnt"),
        )
    )  # feeds both join sides
    anchors = ranked.select(
        F.col("id").alias("anchor_id"),
        F.col("lbl").alias("alabel"),
        "shard", "pos", "cnt",
        F.explode(F.sequence(F.lit(1), F.lit(k))).alias("neg_rank"),
    ).withColumn("npos", (F.col("pos") - 1 + F.col("neg_rank")) % F.col("cnt") + 1)
    negs = ranked.select(
        F.col("shard").alias("nshard"), F.col("pos").alias("npos2"),
        F.col("id").alias("neg_id"), F.col("lbl").alias("nlabel"),
    )
    return (
        anchors.join(
            negs,
            (F.col("shard") == F.col("nshard")) & (F.col("npos") == F.col("npos2")),
        )
        .filter(F.col("neg_id") != F.col("anchor_id"))  # singleton-shard wrap
        .select(
            "anchor_id", "neg_rank", "neg_id",
            F.col("alabel").eqNullSafe(F.col("nlabel")).alias("same_label"),
        )
    )


def topk_recall(exact: DataFrame, approx: DataFrame, k: int,
                round_dp: int = 4) -> DataFrame:
    """Recall@k of an approximate neighbor result against the exact one:
    per query, |approx ∩ exact| / k over the (query_id, neighbor_id)
    pairs — the standard ANN quality metric, computed as data so the
    recall/cost dial (nprobe, bucket width, plane count) is OBSERVABLE in
    the pipeline rather than asserted once in a test.

    Both inputs are already top-k relations (≤ k·|queries| rows), so the
    intersection join and per-query count are trivially small at any
    corpus scale.  Returns (query_id, n_hits, recall_at_k); queries the
    approximate index missed entirely still appear with recall 0."""
    e = exact.select("query_id", "neighbor_id")
    a = approx.select("query_id", "neighbor_id")
    hits = (
        e.join(a, ["query_id", "neighbor_id"])
        .groupBy("query_id")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_hits"))
    )
    qs = e.select("query_id").distinct()
    return qs.join(hits, "query_id", "left").select(
        "query_id",
        F.coalesce(F.col("n_hits"), F.lit(0).cast("bigint")).alias("n_hits"),
        F.round(
            F.coalesce(F.col("n_hits"), F.lit(0)).cast("double") / F.lit(float(k)),
            round_dp,
        ).alias("recall_at_k"),
    )


def rrf_fuse(rankings: list[DataFrame], k0: int = 60, topk: int = 10,
             query_col: str = "query_id", item_col: str = "neighbor_id",
             rank_col: str = "rank", round_dp: int = 6) -> DataFrame:
    """Reciprocal-rank fusion (Cormack et al. 2009) of N per-query
    rankings — the standard way hybrid retrieval combines a sparse
    (BM25/Jaccard) leg with a dense (embedding cosine) leg without
    score calibration: rrf(q, i) = Σ_legs 1/(k0 + rank_leg(q, i)),
    items missing from a leg contribute nothing.

    Plan shape: the legs are already top-k relations (≤ k·|queries|
    rows each), so the union + per-(query, item) sum + per-query rank
    window all run on leg-sized data regardless of corpus size — the
    corpus-scale work happened inside the legs.  The fused score is
    rounded before ranking and ties break by item id, so the top-k
    boundary is deterministic across engines (with two legs the sum is
    a single IEEE addition, which is commutative — no sum-order caveat).
    Returns (query_id, neighbor_id, rrf, n_legs, rank)."""
    legs = [
        r.select(
            F.col(query_col).alias("query_id"),
            F.col(item_col).alias("neighbor_id"),
            F.col(rank_col).cast("bigint").alias("_r"),
        )
        for r in rankings
    ]
    allr = legs[0]
    for r in legs[1:]:
        allr = allr.unionByName(r)
    fused = allr.groupBy("query_id", "neighbor_id").agg(
        F.round(F.sum(F.lit(1.0) / (F.lit(k0) + F.col("_r"))), round_dp).alias("rrf"),
        F.count(F.lit(1)).cast("bigint").alias("n_legs"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("rrf").desc(), F.col("neighbor_id")
    )
    return (
        fused.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rank") <= topk)
    )


def topk_ndcg(exact: DataFrame, approx: DataFrame, k: int,
              round_dp: int = 6) -> DataFrame:
    """nDCG@k of an approximate ranking against the exact one, with the
    exact neighbors' (rounded) cosine as graded relevance — the metric
    that, unlike recall@k, penalizes an index for returning the right
    set in the wrong order.  Gains for pairs outside the exact top-k are
    0 (the truncated-gain convention: relevance is only known where the
    exact ranking computed it); callers should use score spaces where
    top-k gains are positive so the ratio is well-behaved.

    Determinism: the discount 1/log2(rank+1) is NOT evaluated by each
    engine's libm (last-ulp log2 differences would leak through the
    sum) — it comes from a k-row literal dim computed once in Python,
    broadcast here and embedded verbatim in the oracle SQL, so both
    engines multiply bitwise-identical doubles.  Both inputs are top-k
    relations, so every join and aggregate is k·|queries|-sized.
    Returns (query_id, dcg, idcg, ndcg_at_k)."""
    import math

    spark = exact.sparkSession
    disc = spark.createDataFrame(
        [(r, 1.0 / math.log2(r + 1)) for r in range(1, int(k) + 1)],
        "rank bigint, _disc double",
    )
    rel = exact.select(
        "query_id", "neighbor_id",
        F.col("cos").alias("_rel"), F.col("rank").alias("rank"),
    )
    idcg = (
        rel.join(F.broadcast(disc), "rank")
        .groupBy("query_id")
        .agg(F.sum(F.col("_rel") * F.col("_disc")).alias("idcg"))
    )
    dcg = (
        approx.select("query_id", "neighbor_id", "rank")
        .join(F.broadcast(disc), "rank")
        .join(rel.select("query_id", "neighbor_id", "_rel"),
              ["query_id", "neighbor_id"])
        .groupBy("query_id")
        .agg(F.sum(F.col("_rel") * F.col("_disc")).alias("dcg"))
    )
    return idcg.join(dcg, "query_id", "left").select(
        "query_id",
        F.round(F.coalesce(F.col("dcg"), F.lit(0.0)), round_dp).alias("dcg"),
        F.round(F.col("idcg"), round_dp).alias("idcg"),
        F.round(
            F.coalesce(F.col("dcg"), F.lit(0.0)) / F.col("idcg"), round_dp
        ).alias("ndcg_at_k"),
    )
