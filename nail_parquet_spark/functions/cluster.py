"""Distributed k-means over embedding columns, and SemDeDup-style
semantic dedup (Abbas et al. 2023: cluster the corpus' embeddings, then
drop near-identical members within each cluster).

Both are beyond-reference training-pipeline operators (the reference's
scope ends at tabular ops — see ``/root/reference/src/commands``); they
compose with the existing ANN/near-dup stack in
:mod:`nail_parquet_spark.functions.similarity`.

Pinned numeric contract (engine-independent, so a SQL oracle reproduces
it bit-for-bit):

- vectors are cast element-wise to ``double`` before any arithmetic;
- the initial centroids are the vectors of the ``k`` SMALLEST ids
  (deterministic and layout-independent — unlike a partition-head
  sample);
- assignment: ``cosine`` is rounded to 6 decimals FIRST, then the row
  joins the lowest-index centroid among the maxima;
- update: each centroid component is the arithmetic mean of its
  members' components, rounded to 6 decimals; a cluster that lost all
  members keeps its previous centroid;
- ``iters`` full (assign -> update) passes run, then one final assign.

Scale shape: every assign is ONE streaming pass of pure column
expressions (centroids ride along as literals — whole-stage codegen, no
UDF); the update shuffles only ``(cluster, pos, partial-sum)`` after
map-side combine, i.e. O(k * dim * partitions) bytes, and the driver
pulls k*dim rounded doubles per iteration. Nothing else ever reaches
the driver.
"""

from __future__ import annotations

from typing import Iterator

import pyarrow as pa
from pyspark.sql import DataFrame, functions as F

from nail_parquet_spark.functions.similarity import (
    _dot_expr, _norm_expr, lit_double_array)


def _cast_double(col):
    return F.transform(col, lambda x: x.cast("double"))


def kmeans_assign(df: DataFrame, vec_col: str,
                  centroids: list[list[float]],
                  out_col: str = "cluster",
                  cosine_col: str | None = None) -> DataFrame:
    """Attach the pinned-contract cluster id (0-based; rounded-cosine
    argmax, lowest index on ties) and optionally the winning cosine.

    Staged for one-pass cost: the row vector's double cast and norm are
    computed ONCE per row (Catalyst does not CSE multi-referenced
    subexpressions), and each centroid's norm is a driver-computed
    literal — bit-identical to the engine fold (same sequential IEEE
    adds over the same literal doubles), so per row the work is k dot
    products instead of k*(dot + two norms)."""
    import math

    # same sequential 0.0 + x*x fold the engine's _norm_expr performs,
    # over the exact literal doubles -> identical IEEE result
    cnorms = [math.sqrt(sum(x * x for x in c)) for c in centroids]
    # lit_double_array: one py4j call per centroid instead of one per
    # element (same CreateArray(Literal...) expression, ~60x less driver
    # latency building the plan)
    cents = F.array(*[
        F.struct(
            lit_double_array(c).alias("c"),
            F.lit(float(n)).alias("n"),
        )
        for c, n in zip(centroids, cnorms)
    ])
    s1 = df.withColumn("__ka_v", _cast_double(F.col(vec_col)))
    s2 = s1.withColumn("__ka_n", _norm_expr(F.col("__ka_v")))
    sims = F.transform(
        cents,
        lambda cn: F.round(
            _dot_expr(F.col("__ka_v"), cn["c"]) / (F.col("__ka_n") * cn["n"]),
            6,
        ),
    )
    out = s2.withColumn("__sims", sims).withColumn(
        out_col,
        (F.array_position(F.col("__sims"), F.array_max("__sims")) - 1)
        .cast("int"),
    )
    if cosine_col is not None:
        out = out.withColumn(cosine_col, F.array_max("__sims"))
    return out.drop("__ka_v", "__ka_n", "__sims")


def kmeans_centroids(df: DataFrame, id_col: str, vec_col: str,
                     k: int = 8, iters: int = 1) -> list[list[float]]:
    """Lloyd's k-means under the module's pinned contract; returns the
    centroids AFTER ``iters`` update passes (components rounded to 6).

    The k smallest-id seed rows plan as TakeOrderedAndProject (no global
    sort materializes); each update is one (cluster, pos)-keyed groupBy
    over posexploded member components — partial aggregation makes the
    exchange O(k * dim * partitions) regardless of row count.
    """
    if k < 1:
        raise ValueError("kmeans_centroids: k must be >= 1")
    seeds = (
        df.select(
            F.col(id_col).alias("__id"),
            # HALF_UP decimal rounding happens ENGINE-side (F.round) so the
            # seed values match a SQL oracle's round() exactly — Python's
            # round() is banker's and would diverge at .5e-6 ties
            F.transform(F.col(vec_col),
                        lambda x: F.round(x.cast("double"), 6)).alias("__v"),
        )
        .filter(F.col("__v").isNotNull())
        .orderBy("__id")
        .limit(k)
        .collect()
    )
    if not seeds:
        raise ValueError("kmeans_centroids: no non-null vectors")
    cents = [[float(x) for x in r["__v"]] for r in seeds]
    for _ in range(iters):
        assigned = kmeans_assign(
            df.select(_cast_double(F.col(vec_col)).alias("__v")).filter(
                F.col("__v").isNotNull()
            ),
            "__v", cents,
        )
        means = (
            assigned.select("cluster", F.posexplode("__v").alias("pos", "x"))
            .groupBy("cluster", "pos")
            .agg(F.round(F.avg("x"), 6).alias("m"))
            .collect()
        )
        upd: dict[int, dict[int, float]] = {}
        for r in means:
            upd.setdefault(r["cluster"], {})[r["pos"]] = r["m"]
        cents = [
            [upd[i][p] for p in sorted(upd[i])] if i in upd else cents[i]
            for i in range(len(cents))
        ]
    return cents


def kmeans(df: DataFrame, id_col: str, vec_col: str, k: int = 8,
           iters: int = 1, out_col: str = "cluster",
           cosine_col: str | None = None) -> DataFrame:
    """Fit + final assign in one call: ``df`` plus the cluster id (and
    optionally the rounded cosine to the winning centroid)."""
    cents = kmeans_centroids(df, id_col, vec_col, k=k, iters=iters)
    return kmeans_assign(df, vec_col, cents, out_col=out_col,
                         cosine_col=cosine_col)


# most pairs in one emitted batch of the pair-dot pass: a hot cluster's
# pairs stream out in bounded blocks instead of being built all at once
_PAIR_BLOCK = 1 << 20


def _pair_blocks(tbl: pa.Table, block: int) -> Iterator[pa.RecordBatch]:
    """Every position pair (i < j, row-major order) of one cluster's rows
    with its exact dot product, as batches of at most ``block`` pairs.

    Input columns (__kid, __kv array<double>, __kn double); output
    (__xid, __yid, __na, __nb, __dot). ``__dot`` is the SAME float as the
    engine's ``aggregate(zip_with(a, b, x*y), 0.0, acc+v)`` left fold:
    the numpy path accumulates ``acc += A[:,i] * B[:,i]`` in element
    order (0.0 + t0 == t0 exactly, then identical IEEE adds), and the
    ragged/null fallback reproduces zip_with's null-padding semantics
    (length mismatch or any NULL element -> NULL dot, empty pair -> 0.0).
    Each pair's fold is independent of the block it falls in, so the
    block size never changes a value."""
    import numpy as np
    import pyarrow.compute as pc

    n = tbl.num_rows
    if n < 2:
        return
    ids = tbl.column("__kid").combine_chunks()
    kn = tbl.column("__kn").combine_chunks().cast(pa.float64())
    kv = tbl.column("__kv").combine_chunks()
    off = kv.offsets.to_numpy(zero_copy_only=False).astype(np.int64)
    lens = np.diff(off)
    vals = kv.values
    uniform = (kv.null_count == 0 and vals.null_count == 0
               and int(lens.min()) == int(lens.max()))
    if uniform:
        d = int(lens[0])
        M = (vals.to_numpy(zero_copy_only=False)[off[0]:off[-1]].reshape(n, d)
             if d else None)
    else:
        pyv = kv.to_pylist()
    # row i's pairs (i, i+1..n-1) start at flat index i*(2n-i-1)/2
    rows = np.arange(n, dtype=np.int64)
    starts = rows * (2 * n - rows - 1) // 2
    total = n * (n - 1) // 2
    for p0 in range(0, total, block):
        p = np.arange(p0, min(p0 + block, total), dtype=np.int64)
        ia = np.searchsorted(starts, p, side="right") - 1
        ib = p - starts[ia] + ia + 1
        if uniform:
            dot = np.zeros(len(p), dtype=np.float64)
            # dim-order fold vectorized ACROSS pairs: same multiplies,
            # same adds, same order as the engine's sequential fold
            for i in range(d):
                dot += M[ia, i] * M[ib, i]
            dot_arr = pa.array(dot, type=pa.float64())
        else:
            dots: list[float | None] = []
            for x, y in zip(ia, ib):
                va, vb = pyv[x], pyv[y]
                if (va is None or vb is None or len(va) != len(vb)
                        or any(e is None for e in va)
                        or any(e is None for e in vb)):
                    dots.append(None)
                    continue
                s = 0.0
                for u, v in zip(va, vb):
                    s += u * v
                dots.append(s)
            dot_arr = pa.array(dots, type=pa.float64())
        take_a, take_b = pa.array(ia), pa.array(ib)
        yield pa.RecordBatch.from_arrays(
            [pc.take(ids, take_a), pc.take(ids, take_b),
             pc.take(kn, take_a), pc.take(kn, take_b), dot_arr],
            names=["__xid", "__yid", "__na", "__nb", "__dot"])


def _pair_dots_arrow(assigned: DataFrame) -> DataFrame:
    """All within-cluster pairs with their exact dot products.

    Input: (__kid, __kv array<double>, __kn double, cluster). Output one
    row per unordered position pair inside each cluster:
    (__xid, __yid, __na, __nb, __dot) — id/norm types pass through Arrow
    untouched and ``__dot`` is bit-identical to the engine's HOF fold
    (:func:`_pair_blocks`). Each cluster crosses the boundary ONCE (rows,
    not pairs); its pairs come back in batches of at most
    ``_PAIR_BLOCK``, so a hot cluster costs time, not a task's memory.
    The emitted pair rows carry no vectors, so the downstream cosine
    filter streams 5 scalars per pair instead of 2*dim doubles.
    """
    t = assigned.schema["__kid"].dataType.simpleString()
    out_schema = f"__xid {t}, __yid {t}, __na double, __nb double, __dot double"
    # bound into the closure: the workers see the driver's value
    block = _PAIR_BLOCK

    def pair_dots(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        yield from _pair_blocks(pa.Table.from_batches(list(batches)), block)

    return (assigned.select("__kid", "__kv", "__kn", "cluster")
            .groupBy("cluster").applyInArrow(pair_dots, out_schema))


def semantic_dedup(df: DataFrame, id_col: str, vec_col: str, k: int = 8,
                   iters: int = 1, tau: float = 0.95,
                   score_col: str | None = None,
                   transitive: bool = False) -> DataFrame:
    """SemDeDup: k-means-cluster the embeddings, then inside each cluster
    drop rows whose rounded cosine to another member is ``>= tau``.

    Keep policy (pinned): without ``score_col``, keep-first — a row is
    dropped iff a SMALLER-id member of its cluster sits within ``tau``
    (matches the paper's "keep one representative per epsilon-ball",
    made deterministic by id order; NOT transitive — a chain a~b~c with
    cos(a,c) < tau keeps a and drops b, c only if each is within tau of
    some smaller id). With ``score_col``, pairs feed
    :func:`nail_parquet_spark.functions.graph.keep_best_in_cluster`
    (transitive closure, highest score wins). ``transitive=True``
    without a score keeps the smallest id per connected component.

    Scale shape: assignment is the streaming pass above; candidate pairs
    come from ONE cluster-keyed pass — each cluster's (id, vector, norm)
    rows cross the Arrow boundary once and the pair DOT products are
    computed by a vectorized dim-order fold (``_pair_dots_arrow``), so
    the pair space sum_c(|c| choose 2) is materialized as small
    (ids, norms, dot) rows instead of vector-carrying join rows, and the
    O(pairs * dim) arithmetic runs in numpy instead of the interpreted
    HOF evaluator (r06 A/B: 2.8 s -> 1.0 s at sf0.1, exceptAll = 0 both
    ways). The division and HALF_UP round stay Catalyst expressions, so
    the rounded cosine is bit-identical to the previous self-join form.
    The SemDeDup contract is unchanged: ``k`` scales with n to bound
    cluster sizes (the paper uses ~100k clusters) — one cluster's
    vectors must fit a task (they already had to fit a join partition);
    its pairs stream out in bounded blocks, so a hot cluster is slow
    (quadratic), not out of memory, and the LSH near-dup path
    (`functions.similarity.near_dup_pairs_lsh`) is the faster tool for
    it. The final keep is a left_anti on ids.
    """
    cents = kmeans_centroids(df, id_col, vec_col, k=k, iters=iters)
    assigned = kmeans_assign(
        df.select(F.col(id_col).alias("__kid"),
                  _cast_double(F.col(vec_col)).alias("__kv")),
        "__kv", cents,
    )
    # stage each row's norm ONCE (the pair pass would otherwise
    # recompute both O(dim) norms per PAIR); same fold, same IEEE result
    assigned = assigned.withColumn("__kn", _norm_expr(F.col("__kv")))
    raw = _pair_dots_arrow(assigned.filter(F.col("cluster").isNotNull()))
    cos = F.round(F.col("__dot") / (F.col("__na") * F.col("__nb")), 6)
    pairs = (
        # positional pairs are unordered; the strict != drops equal-id
        # (and NULL-id) pairs exactly like the old id_a < id_b join
        # filter, and least/greatest restore the pinned orientation.
        # dot and na*nb are symmetric bit-exactly (IEEE * and the
        # element-order fold commute under operand swap), so the rounded
        # cosine is unchanged by the swap.
        raw.filter(F.col("__xid") != F.col("__yid"))
        .withColumn("cosine", cos)
        .filter(F.col("cosine") >= tau)
        .select(F.least("__xid", "__yid").alias("id_a"),
                F.greatest("__xid", "__yid").alias("id_b"))
    )
    if score_col is not None:
        from nail_parquet_spark.functions.graph import keep_best_in_cluster

        return keep_best_in_cluster(df, id_col, score_col, pairs)
    if transitive:
        from nail_parquet_spark.functions.graph import dedup_by_components

        return dedup_by_components(df, id_col, pairs)
    drop = pairs.select(F.col("id_b").alias("__drop")).distinct()
    return df.join(drop, df[id_col] == F.col("__drop"), "left_anti")
