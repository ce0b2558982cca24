"""Similarity search over embedding columns (array<float>).

Brute-force cosine top-k is the exact baseline (fully relational:
posexplode + sum-of-products, so the DuckDB oracle can verify it). The
scale path is LSH bucketing (random-hyperplane signs) that prunes the pair
space before the exact rerank — the standard recipe when n² won't fit.
"""

from __future__ import annotations

import math

import numpy as np
from pyspark.sql import Column, DataFrame, functions as F


def lit_double_array(values) -> Column:
    """A literal ``array<double>`` column built in ONE py4j call.

    Element-wise ``F.array(*[F.lit(x) ...])`` pays one JVM roundtrip per
    element (~1 ms each on the driver) — a 64-dim vector literal costs
    ~70 ms of pure Python-side latency, and the LSH/centroid expression
    builders create dozens per query (measured ~1 s of driver time for a
    12x64 plane set). Parsing one SQL array literal is a single call and
    yields the IDENTICAL CreateArray(Literal...) expression: ``repr``
    round-trips every finite double exactly and the SQL parser reads the
    decimal string back to the same bits (pinned by
    test_lit_double_array_bit_identity); non-finite values go through
    CAST, which parses to the same NaN/±Infinity doubles.
    """
    vals = [float(x) for x in values]
    if not vals:
        return F.expr("CAST(array() AS ARRAY<DOUBLE>)")
    return F.expr("array(" + ",".join(_fmt_double(x) for x in vals) + ")")


def _fmt_double(x: float) -> str:
    """SQL literal text that parses back to exactly the double ``x``."""
    if math.isnan(x):
        return "CAST('NaN' AS DOUBLE)"
    if math.isinf(x):
        return "CAST('%sInfinity' AS DOUBLE)" % ("-" if x < 0 else "")
    return repr(x) + "D"


def _plane_sig_sql(vec_col: str, planes: list[list[float]]) -> str:
    """SQL text of the sign-of-projection LSH signature over ``planes``.

    Value-identical to the chained Column form (same left-to-right
    bigint sum of CASE WHEN dot > 0 terms, same aggregate/zip_with dot
    fold), but the WHOLE chain parses in ONE py4j call — the Column
    builder paid ~8 JVM roundtrips per plane for the lambda plumbing,
    which at 12-56 planes per signature was a measurable driver stall
    (~0.5-1 s per bucketing pass)."""
    terms = ["CAST(0 AS BIGINT)"]
    col = "`" + vec_col.replace("`", "``") + "`"
    for j, p in enumerate(planes):
        arr = "array(" + ",".join(_fmt_double(float(x)) for x in p) + ")"
        dot = (f"aggregate(zip_with({col}, {arr}, (x, y) -> x * y), "
               "0.0D, (acc, v) -> acc + v)")
        terms.append(
            f"(CASE WHEN {dot} > 0 THEN CAST({1 << j} AS BIGINT) ELSE 0 END)")
    return " + ".join(terms)


def _dot_expr(a, b):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _norm_expr(a):
    return F.sqrt(F.aggregate(F.transform(a, lambda x: x * x), F.lit(0.0), lambda acc, v: acc + v))


def cosine_topk_bruteforce(df: DataFrame, queries: DataFrame, id_col: str,
                           vec_col: str, k: int = 5) -> DataFrame:
    """Exact top-k neighbors for each query vector.

    queries: (query_id, vec). The query side is broadcast (it's small); the
    corpus streams — one pass, no shuffle of the corpus. Ties broken by id
    for determinism.
    """
    from pyspark.sql import Window

    q = queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("__qv"))
    c = df.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("__cv"))
    joined = c.crossJoin(F.broadcast(q)).filter(F.col("neighbor_id") != F.col("query_id"))
    cos = _dot_expr(F.col("__qv"), F.col("__cv")) / (
        _norm_expr(F.col("__qv")) * _norm_expr(F.col("__cv"))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        joined.withColumn("cosine", F.round(cos, 6))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )


def random_hyperplanes(dim: int, n_planes: int = 16, seed: int = 42) -> list[list[float]]:
    rng = np.random.default_rng(seed)
    return rng.standard_normal((n_planes, dim)).tolist()


def lsh_bucket(df: DataFrame, vec_col: str, planes: list[list[float]]) -> DataFrame:
    """Sign-of-projection LSH signature: one int bucket per row. Pure
    relational expressions (no UDF), so codegen applies."""
    return df.withColumn("lsh_bucket", F.expr(_plane_sig_sql(vec_col, planes)))


def cosine_topk_lsh(df: DataFrame, queries: DataFrame, id_col: str, vec_col: str,
                    k: int = 5, n_planes: int = 12, seed: int = 42,
                    probe_hamming: int = 1) -> DataFrame:
    """Approximate top-k: candidates share an LSH bucket (or a bucket within
    `probe_hamming` bit flips — multiprobe), exact cosine rerank on the
    pruned set. Recall/efficiency tradeoff is (n_planes, probe_hamming)."""
    from pyspark.sql import Window

    dim = len(df.select(vec_col).first()[0])
    planes = random_hyperplanes(dim, n_planes, seed)
    c = lsh_bucket(df.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("__cv")), "__cv", planes)
    q = lsh_bucket(queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("__qv")), "__qv", planes)
    # multiprobe: expand each query into its bucket + single-bit-flip buckets
    probes = [F.col("lsh_bucket")]
    if probe_hamming >= 1:
        probes += [F.col("lsh_bucket").bitwiseXOR(F.lit(1 << j)) for j in range(n_planes)]
    q = q.withColumn("probe", F.explode(F.array(*probes))).drop("lsh_bucket")
    joined = c.join(F.broadcast(q), c["lsh_bucket"] == q["probe"]).filter(
        F.col("neighbor_id") != F.col("query_id")
    )
    cos = _dot_expr(F.col("__qv"), F.col("__cv")) / (
        _norm_expr(F.col("__qv")) * _norm_expr(F.col("__cv"))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        joined.withColumn("cosine", F.round(cos, 6))
        .select("query_id", "neighbor_id", "cosine")
        .distinct()
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def embedding_lsh_candidates(df: DataFrame, id_col: str, vec_col: str,
                             bands: int = 8, planes_per_band: int = 7,
                             seed: int = 42, max_bucket: int = 1000,
                             chain_width: int = 3) -> DataFrame:
    """Banded random-hyperplane candidate pairs (id_a < id_b), the
    OR-construction: a pair is a candidate iff it agrees on ALL
    ``planes_per_band`` sign bits in at least one of ``bands`` bands.
    Per-pair match probability is 1-(1-p^r)^b with p = 1 - acos(cos)/pi —
    at cosine 0.95 the default (8 bands x 7 planes) retains ~99% of true
    pairs, vs ~28% lost by the previous single 12-plane signature.

    All band buckets come from ONE scan (projections -> array -> explode);
    only (id, bucket) rows shuffle, never the vectors.

    Hot buckets (near-identical clusters — exactly the near-dup case) would
    make the clique self-join quadratic, so buckets larger than
    ``max_bucket`` switch to CHAIN linking: each row pairs with its next
    ``chain_width`` neighbors in id order within the bucket. Output stays
    linear in bucket size while tight clusters remain connected through
    adjacent pairs (a loose oversized bucket may lose cross-cluster pairs —
    the documented recall/cost trade; raise max_bucket for exactness)."""
    from pyspark.sql import Window

    first = df.select(vec_col).filter(F.col(vec_col).isNotNull()).first()
    if first is None:
        return df.sparkSession.createDataFrame(
            [], f"id_a {dict(df.dtypes)[id_col]}, id_b {dict(df.dtypes)[id_col]}"
        )
    dim = len(first[0])
    planes = random_hyperplanes(dim, bands * planes_per_band, seed)
    base = df.select(F.col(id_col).alias("__id"), F.col(vec_col).alias("__v"))

    def band_bucket(b: int):
        sig = F.expr(_plane_sig_sql(
            "__v", planes[b * planes_per_band:(b + 1) * planes_per_band]))
        return F.concat_ws(":", F.lit(str(b)), sig.cast("string"))

    buckets = base.select(
        "__id", F.explode(F.array(*[band_bucket(b) for b in range(bands)])).alias("bucket")
    )
    sizes = buckets.groupBy("bucket").agg(F.count(F.lit(1)).alias("__n")).filter(F.col("__n") >= 2)
    buckets = buckets.join(sizes, "bucket")
    small = buckets.filter(F.col("__n") <= max_bucket).drop("__n")
    a, b_ = small.alias("a"), small.alias("b")
    clique = a.join(
        b_, (F.col("a.bucket") == F.col("b.bucket")) & (F.col("a.__id") < F.col("b.__id"))
    ).select(F.col("a.__id").alias("id_a"), F.col("b.__id").alias("id_b"))
    big = buckets.filter(F.col("__n") > max_bucket).drop("__n")
    w = Window.partitionBy("bucket").orderBy("__id")
    ranked = big.withColumn("__rn", F.row_number().over(w))
    ra, rb = ranked.alias("a"), ranked.alias("b")
    chain = ra.join(
        rb,
        (F.col("a.bucket") == F.col("b.bucket"))
        & (F.col("b.__rn") - F.col("a.__rn")).between(1, chain_width),
    ).select(F.col("a.__id").alias("id_a"), F.col("b.__id").alias("id_b"))
    return clique.unionAll(chain).distinct()


def embedding_near_duplicates(df: DataFrame, id_col: str, vec_col: str,
                              threshold: float = 0.95, bands: int = 8,
                              planes_per_band: int = 7, seed: int = 42,
                              max_bucket: int = 1000,
                              chain_width: int = 3) -> DataFrame:
    """Embedding-cosine near-dup pairs — banded LSH candidate generation
    (embedding_lsh_candidates) + exact cosine verify on candidates only.
    The embedding analogue of MinHash dedup; same candidate->verify shape,
    never an O(n^2) cross join."""
    cand = embedding_lsh_candidates(
        df, id_col, vec_col, bands=bands, planes_per_band=planes_per_band,
        seed=seed, max_bucket=max_bucket, chain_width=chain_width,
    )
    va = df.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("__va"))
    vb = df.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("__vb"))
    cos = _dot_expr(F.col("__va"), F.col("__vb")) / (
        _norm_expr(F.col("__va")) * _norm_expr(F.col("__vb"))
    )
    return (
        cand.join(va, "id_a").join(vb, "id_b")
        .withColumn("cosine", F.round(cos, 6))
        .filter(F.col("cosine") >= threshold)
        .select("id_a", "id_b", "cosine")
    )


def ivf_assign(df: DataFrame, vec_col: str, centroids: list[list[float]],
               out_col: str = "ivf_cluster") -> DataFrame:
    """Assign each row to its nearest centroid (by cosine) — one streaming
    pass, centroids broadcast as a literal array-of-arrays; pure column
    expressions so codegen applies."""
    cents = F.array(*[lit_double_array(c) for c in centroids])
    sims = F.transform(
        cents,
        lambda c: _dot_expr(F.col(vec_col), c) / (_norm_expr(F.col(vec_col)) * _norm_expr(c)),
    )
    best = F.array_position(sims, F.array_max(sims)) - 1
    return df.withColumn(out_col, best.cast("int"))


def _sample_vectors(df: DataFrame, vec_col: str, cap: int = 10_000) -> "np.ndarray":
    """Bounded vector sample WITHOUT a full-table count(): take the head of
    every partition (mapInPandas early-exits after its quota, reading only
    the first batches), so index training sees all regions of a
    clustered/sorted layout — a bare limit() would draw only from the
    leading partitions and could collapse recall when the table is sorted by
    similarity. Sample quality only affects recall/balance, never
    correctness (exact rerank follows in every ANN path)."""
    vec_df = df.select(vec_col)
    n_parts = max(1, vec_df.rdd.getNumPartitions())
    # coalesce (no shuffle) to <=64 read slots: near-empty partitions merge
    # with dense ones so a skewed layout still fills its quota, while the
    # driver pull stays bounded at ~cap rows total (a per-partition FLOOR
    # instead would collect n_parts*floor rows before the cut — driver OOM
    # at thousands of partitions)
    eff_parts = min(n_parts, 64)
    if n_parts > eff_parts:
        vec_df = vec_df.coalesce(eff_parts)
    per_part = -(-cap // eff_parts)  # ceil

    def head_per_partition(pdfs):
        taken = 0
        for pdf in pdfs:
            if taken >= per_part:
                break
            chunk = pdf.head(per_part - taken)
            taken += len(chunk)
            yield chunk

    sample = vec_df.mapInPandas(head_per_partition, schema=vec_df.schema)
    vals = [v for v in sample.toPandas()[vec_col].tolist() if v is not None]
    if vals:
        # drop ragged rows against the MODAL length — keying off the first
        # row would let one malformed leading vector discard the whole sample
        from collections import Counter

        d = Counter(len(v) for v in vals).most_common(1)[0][0]
        kept = [v for v in vals if len(v) == d]
        dropped = len(vals) - len(kept)
        if dropped and dropped / len(vals) > 0.01:
            # mixed dimensionalities: training keys on the modal dim and the
            # downstream encode/query filters silently exclude every other
            # dim — surface the exclusion instead of returning partial
            # results with no diagnostic (ADVICE r3)
            import warnings

            warnings.warn(
                f"_sample_vectors: {dropped}/{len(vals)} sampled vectors "
                f"dropped for dimension != modal {d}; rows of other "
                f"dimensionalities will be excluded from the index and from "
                f"query scoring",
                stacklevel=2,
            )
        vals = kept
    return np.array(vals[:cap], dtype="float64")


def ivf_centroids(df: DataFrame, vec_col: str, k: int = 16, seed: int = 42,
                  iters: int = 2) -> list[list[float]]:
    """Cheap deterministic centroids: seeded sample -> a couple of Lloyd
    refinement passes computed with groupBy mean (distributed k-means lite).
    At 100 TB you'd run this on a sample table; the assign pass is the only
    full scan."""
    import numpy as np

    X = _sample_vectors(df, vec_col, cap=10_000)
    if len(X) < k:
        k = max(1, len(X))
    rng = np.random.default_rng(seed)
    cents = X[rng.choice(len(X), k, replace=False)]
    for _ in range(iters):
        Xn = X / np.maximum(np.linalg.norm(X, axis=1, keepdims=True), 1e-12)
        Cn = cents / np.maximum(np.linalg.norm(cents, axis=1, keepdims=True), 1e-12)
        assign = (Xn @ Cn.T).argmax(axis=1)
        for j in range(k):
            m = assign == j
            if m.any():
                cents[j] = X[m].mean(axis=0)
    return cents.tolist()


def cosine_topk_ivf(df: DataFrame, queries: DataFrame, id_col: str, vec_col: str,
                    k: int = 5, n_clusters: int = 16, nprobe: int = 3,
                    seed: int = 42) -> DataFrame:
    """IVF ANN: corpus bucketed by nearest centroid; each query probes its
    ``nprobe`` closest clusters and reranks exactly inside them."""
    from pyspark.sql import Window

    centroids = ivf_centroids(df, vec_col, k=n_clusters, seed=seed)
    c = ivf_assign(df.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("__cv")),
                   "__cv", centroids)
    cents = F.array(*[lit_double_array(cc) for cc in centroids])
    sims = F.transform(
        cents,
        lambda cc: _dot_expr(F.col("__qv"), cc) / (_norm_expr(F.col("__qv")) * _norm_expr(cc)),
    )
    q = queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("__qv"))
    q = q.withColumn("__sims", sims)
    order = F.reverse(F.array_sort(F.col("__sims")))
    probe_vals = F.slice(order, 1, nprobe)
    q = q.withColumn("probe", F.explode(
        F.transform(probe_vals, lambda v: F.array_position(F.col("__sims"), v) - 1)
    )).drop("__sims")
    joined = c.join(F.broadcast(q), c["ivf_cluster"] == q["probe"].cast("int")).filter(
        F.col("neighbor_id") != F.col("query_id")
    )
    cos = _dot_expr(F.col("__qv"), F.col("__cv")) / (
        _norm_expr(F.col("__qv")) * _norm_expr(F.col("__cv"))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        joined.withColumn("cosine", F.round(cos, 6))
        .select("query_id", "neighbor_id", "cosine")
        .distinct()
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


# ---------------------------------------------------------------------------
# product quantization (PQ) — compressed-vector ANN with ADC scoring
# ---------------------------------------------------------------------------


def pq_train(df: DataFrame, vec_col: str, m: int = 8, k: int = 256,
             seed: int = 42, iters: int = 4) -> "np.ndarray":
    """Train PQ codebooks (m subspaces x k centroids x dim/m) on a
    head-per-partition sample of L2-NORMALIZED vectors, so the additive ADC
    inner product approximates cosine. Driver-side numpy k-means per
    subspace over <=10k samples — index training is job planning, like
    codec selection; the full table is only touched by the encode pass."""
    X = _sample_vectors(df, vec_col, cap=10_000)
    if len(X) == 0:
        raise ValueError("pq_train: no vectors to sample")
    d = X.shape[1]
    if d % m:
        raise ValueError(f"vector dim {d} not divisible by m={m} subspaces")
    if k > 32767:
        raise ValueError(f"k={k} exceeds the int16 code space (max 32767)")
    X = X / np.maximum(np.linalg.norm(X, axis=1, keepdims=True), 1e-12)
    k = min(k, len(X))
    ds = d // m
    rng = np.random.default_rng(seed)
    books = np.empty((m, k, ds))
    for j in range(m):
        S = X[:, j * ds : (j + 1) * ds]
        cents = S[rng.choice(len(S), k, replace=False)]
        for _ in range(iters):
            # argmin ||s-c||^2 via the dot trick (same as pq_encode):
            # O(n*k) memory instead of the (n, k, ds) difference tensor
            assign = (S @ cents.T - 0.5 * (cents**2).sum(1)[None, :]).argmax(1)
            for c in range(k):
                msk = assign == c
                if msk.any():
                    cents[c] = S[msk].mean(0)
        books[j] = cents
    return books


def pq_encode(df: DataFrame, id_col: str, vec_col: str,
              codebooks: "np.ndarray", out_col: str = "pq_code") -> DataFrame:
    """Quantize every (normalized) vector to m int16 codes — one
    Arrow-batched pass (mapInArrow, vectorized numpy; the codebooks ride the
    task closure like a broadcast). Output is (id, codes array): 64 floats
    become m small ints, the compressed representation ADC scores against.

    Rows whose vector is NULL or has the wrong dimensionality are EXCLUDED
    from the index (they can't be scored); id type is preserved as-is."""
    import pyarrow as pa

    m, k, ds = codebooks.shape
    if k > 32767:
        raise ValueError(f"k={k} exceeds the int16 code space (max 32767)")
    d = m * ds
    books = codebooks.copy()
    proj = df.select(id_col, vec_col)
    id_t = dict(proj.dtypes)[id_col]

    def enc(batches):
        for b in batches:
            lst = b.column(1)
            lens = np.diff(lst.offsets.to_numpy(zero_copy_only=False))
            valid = lens == d
            if lst.null_count:
                valid &= np.asarray(lst.is_valid())
            if not valid.any():
                continue
            keep = pa.array(np.flatnonzero(valid))
            ids = b.column(0).take(keep)
            lst = lst.take(keep)
            n = len(lst)
            X = np.asarray(
                lst.flatten().to_numpy(zero_copy_only=False), dtype=np.float64
            ).reshape(n, d)
            X = X / np.maximum(np.linalg.norm(X, axis=1, keepdims=True), 1e-12)
            codes = np.empty((n, m), dtype=np.int16)
            for j in range(m):
                S = X[:, j * ds : (j + 1) * ds]
                # ||s-c||^2 = ||s||^2 - 2 s.c + ||c||^2 — argmin needs only
                # the last two terms
                scores = S @ books[j].T - 0.5 * (books[j] ** 2).sum(1)[None, :]
                codes[:, j] = scores.argmax(1)
            flat = pa.array(codes.reshape(-1), pa.int16())
            offs = pa.array(np.arange(0, (n + 1) * m, m, dtype=np.int32))
            yield pa.record_batch(
                [ids, pa.ListArray.from_arrays(offs, flat)],
                names=[id_col, out_col],
            )

    return proj.mapInArrow(enc, schema=f"{id_col} {id_t}, {out_col} array<smallint>")


def cosine_topk_pq(df: DataFrame, queries: DataFrame, id_col: str,
                   vec_col: str, k: int = 5, m: int = 8, n_centroids: int = 256,
                   candidates_per_query: int = 50, seed: int = 42) -> DataFrame:
    """PQ ANN: codebooks -> encode corpus to m-byte codes -> ADC scoring
    (per-query lookup tables, one gather-sum per code row) -> exact cosine
    rerank of the top candidates. Same candidate-generation + exact-verify
    shape as the LSH/IVF paths; at 100 TB the scored representation is
    m bytes/vector instead of 4*dim, so the scan is ~32x lighter."""
    import pyarrow as pa
    from pyspark.sql import Window

    from pyspark.sql.pandas.types import to_arrow_type

    books = pq_train(df, vec_col, m=m, k=n_centroids, seed=seed)
    mm, kk, ds = books.shape
    codes = pq_encode(df, id_col, vec_col, books)
    id_t = dict(df.select(id_col).dtypes)[id_col]
    id_arrow_t = to_arrow_type(df.schema[id_col].dataType)

    qrows = [r for r in queries.select(id_col, vec_col).collect()
             if r[1] is not None and len(r[1]) == mm * ds]
    if not qrows:
        # every query vector was NULL or mis-sized: empty result, right shape
        return df.sparkSession.createDataFrame(
            [], f"query_id {id_t}, neighbor_id {id_t}, cosine double, rank int"
        )
    Q = np.array([r[1] for r in qrows], dtype=np.float64)
    Q = Q / np.maximum(np.linalg.norm(Q, axis=1, keepdims=True), 1e-12)
    qids = [r[0] for r in qrows]  # original id type, not coerced
    # per-query ADC lookup tables: LUT[q, j, c] = q_sub_j . book[j][c]
    lut = np.einsum("qjd,jcd->qjc", Q.reshape(len(Q), mm, ds), books)

    nq = len(qids)
    cap = candidates_per_query

    def score(batches):
        # explicit arrow type: plain pa.array() would infer int64 from
        # Python ints and mismatch the declared schema for int/float ids
        qid_arr = pa.array(qids, type=id_arrow_t)
        for b in batches:
            ids = b.column(0)
            lst = b.column(1)
            n = len(lst)
            if n == 0:
                continue
            C = lst.flatten().to_numpy(zero_copy_only=False).reshape(n, mm)
            # scores[q, i] = sum_j LUT[q, j, C[i, j]]
            gathered = lut[:, np.arange(mm)[None, :], C]  # (nq, n, m)
            scores = gathered.sum(-1)
            top = min(cap, n)
            idx = np.argpartition(-scores, top - 1, axis=1)[:, :top]
            # arrow take preserves the caller's id type for both sides
            out_q = qid_arr.take(pa.array(np.repeat(np.arange(nq), top)))
            out_n = ids.take(pa.array(idx.reshape(-1)))
            out_s = np.take_along_axis(scores, idx, axis=1).reshape(-1)
            yield pa.record_batch(
                [out_q, out_n, pa.array(out_s)],
                names=["query_id", "neighbor_id", "adc_score"],
            )

    # per-partition top candidates (bounded output), then global cut + exact
    # cosine rerank of the surviving candidates only
    local = codes.mapInArrow(
        score, schema=f"query_id {id_t}, neighbor_id {id_t}, adc_score double"
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("adc_score"), F.asc("neighbor_id"))
    cand = local.withColumn("__r", F.row_number().over(w)).filter(
        F.col("__r") <= cap
    ).drop("__r")
    corpus = df.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("__cv"))
    qdf = queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("__qv"))
    joined = (
        # broadcast the TINY candidate set (nq * cap rows) so the corpus
        # streams through the rerank with zero shuffle — a plain join would
        # sort-merge every raw vector just to rerank a few hundred rows
        corpus.join(F.broadcast(cand), "neighbor_id")
        .join(F.broadcast(qdf), "query_id")
        .filter(F.col("neighbor_id") != F.col("query_id"))
    )
    cos = _dot_expr(F.col("__qv"), F.col("__cv")) / (
        _norm_expr(F.col("__qv")) * _norm_expr(F.col("__cv"))
    )
    w2 = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        joined.withColumn("cosine", F.round(cos, 6))
        .select("query_id", "neighbor_id", "cosine")
        .withColumn("rank", F.row_number().over(w2))
        .filter(F.col("rank") <= k)
    )
