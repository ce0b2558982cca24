"""k-means + SemDeDup semantic dedup (functions/cluster.py) and hybrid
RRF retrieval (functions/text.hybrid_search_rrf)."""
import math

import pytest
from pyspark.sql import functions as F

from nail_parquet_spark.functions.cluster import (
    kmeans,
    kmeans_assign,
    kmeans_centroids,
    semantic_dedup,
)
from nail_parquet_spark.functions.text import hybrid_search_rrf


@pytest.fixture(scope="module")
def vecs(spark):
    """Three tight groups in 4-d plus a near-duplicate pair inside the
    first group — built with exact float values so assertions are exact."""
    rows = [
        (0, [1.0, 0.0, 0.0, 0.0]),
        (1, [0.99, 0.01, 0.0, 0.0]),   # near-dup of 0
        (2, [0.98, 0.0, 0.02, 0.0]),   # near-dup of 0/1
        (10, [0.0, 1.0, 0.0, 0.0]),
        (11, [0.0, 0.97, 0.03, 0.0]),
        (20, [0.0, 0.0, 1.0, 0.0]),
        (21, [0.0, 0.0, 0.96, 0.04]),
    ]
    return spark.createDataFrame(rows, "id long, v array<double>")


def test_kmeans_seeds_are_smallest_ids(spark, vecs):
    cents = kmeans_centroids(vecs, "id", "v", k=3, iters=0)
    assert cents == [
        [1.0, 0.0, 0.0, 0.0],
        [0.99, 0.01, 0.0, 0.0],
        [0.98, 0.0, 0.02, 0.0],
    ]


def test_kmeans_groups_separate(spark, vecs):
    out = kmeans(vecs, "id", "v", k=3, iters=2).collect()
    by_id = {r["id"]: r["cluster"] for r in out}
    # the three orthogonal groups land in distinct clusters
    assert by_id[0] == by_id[1] == by_id[2]
    assert by_id[10] == by_id[11]
    assert by_id[20] == by_id[21]
    assert len({by_id[0], by_id[10], by_id[20]}) == 3


def test_kmeans_assign_tie_lowest_index(spark):
    df = spark.createDataFrame([(1, [1.0, 1.0])], "id long, v array<double>")
    # both centroids at the same rounded cosine -> index 0 wins
    out = kmeans_assign(df, "v", [[1.0, 0.0], [0.0, 1.0]]).collect()[0]
    assert out["cluster"] == 0


def test_kmeans_empty_cluster_keeps_centroid(spark):
    # two identical rows, k=2: the second centroid loses every member on
    # iteration 1 (ties go to index 0) and must survive unchanged
    df = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [1.0, 0.0])], "id long, v array<double>"
    )
    cents = kmeans_centroids(df, "id", "v", k=2, iters=1)
    assert cents == [[1.0, 0.0], [1.0, 0.0]]


def test_kmeans_update_is_member_mean(spark):
    df = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.0, 2.0]), (3, [0.0, 4.0])],
        "id long, v array<double>",
    )
    cents = kmeans_centroids(df, "id", "v", k=2, iters=1)
    # seed0=[1,0] keeps row 1; seed1=[0,2] takes rows 2,3 -> mean [0,3]
    assert cents == [[1.0, 0.0], [0.0, 3.0]]


def test_kmeans_k_exceeds_rows(spark):
    df = spark.createDataFrame([(1, [1.0, 0.0])], "id long, v array<double>")
    cents = kmeans_centroids(df, "id", "v", k=5, iters=1)
    assert cents == [[1.0, 0.0]]


def test_kmeans_rejects_bad_k_and_empty(spark):
    df = spark.createDataFrame([(1, [1.0])], "id long, v array<double>")
    with pytest.raises(ValueError):
        kmeans_centroids(df, "id", "v", k=0)
    with pytest.raises(ValueError):
        kmeans_centroids(df.filter("id < 0"), "id", "v", k=2)


def test_semantic_dedup_keep_first(spark, vecs):
    kept = sorted(
        r["id"] for r in semantic_dedup(
            vecs, "id", "v", k=3, iters=1, tau=0.9998
        ).collect()
    )
    # rounded cosines inside group one: cos(0,1)=0.999949 >= tau (drop 1),
    # cos(0,2)=0.999792 and cos(1,2)=0.999734 < tau (keep 2); groups two
    # and three sit at 0.999522 / 0.999133 -- all kept
    assert kept == [0, 2, 10, 11, 20, 21]


def test_semantic_dedup_keep_best_score(spark, vecs):
    scored = vecs.withColumn("score", F.col("id").cast("double"))
    kept = sorted(
        r["id"] for r in semantic_dedup(
            scored, "id", "v", k=3, iters=1, tau=0.9998, score_col="score"
        ).collect()
    )
    # the only pair is (0,1); highest score in that cluster is id 1
    assert kept == [1, 2, 10, 11, 20, 21]


def test_semantic_dedup_transitive(spark):
    # c is within tau of both a and b, but a and b are far apart: keep-first
    # keeps b (no SMALLER id within tau of it), transitive collapses the
    # whole component to its minimum
    rows = [
        (1, [1.0, 0.0]),
        (2, [0.0, 1.0]),
        (3, [0.7071, 0.7071]),
    ]
    df = spark.createDataFrame(rows, "id long, v array<double>")
    tau = 0.7
    keep_first = sorted(r["id"] for r in semantic_dedup(
        df, "id", "v", k=1, iters=0, tau=tau).collect())
    transitive = sorted(r["id"] for r in semantic_dedup(
        df, "id", "v", k=1, iters=0, tau=tau, transitive=True).collect())
    assert keep_first == [1, 2]
    assert transitive == [1]


def test_semantic_dedup_no_pairs_identity(spark, vecs):
    kept = semantic_dedup(vecs, "id", "v", k=3, iters=1, tau=1.1)
    assert kept.count() == vecs.count()


@pytest.fixture(scope="module")
def corpus(spark):
    rows = [
        (1, "spark engine fast engine", [1.0, 0.0, 0.0]),
        (2, "query engine", [0.9, 0.1, 0.0]),
        (3, "hash join strategy", [0.0, 1.0, 0.0]),
        (4, "totally unrelated text", [0.0, 0.0, 1.0]),
        (5, None, [1.0, 0.05, 0.0]),
    ]
    return spark.createDataFrame(rows, "id long, text string, v array<double>")


def test_hybrid_rrf_fuses_both_branches(spark, corpus):
    out = hybrid_search_rrf(
        corpus, "id", "text", "v", "engine query",
        [1.0, 0.0, 0.0], k=5, k_each=3, rrf_k=60,
    ).collect()
    rows = {r["id"]: r for r in out}
    # doc 2 matches both query terms AND is cosine-close -> both ranks set
    assert rows[2]["bm25_rank"] is not None and rows[2]["cos_rank"] is not None
    # doc 5 has NULL text: semantic-only (bm25 can never match it)
    assert rows[5]["bm25_rank"] is None and rows[5]["cos_rank"] is not None
    # every fused score is the sum of its reciprocal ranks
    for r in out:
        expect = 0.0
        if r["bm25_rank"] is not None:
            expect += 1.0 / (60 + r["bm25_rank"])
        if r["cos_rank"] is not None:
            expect += 1.0 / (60 + r["cos_rank"])
        assert math.isclose(r["rrf_score"], round(expect, 9), abs_tol=1e-9)
    # ordering: rrf desc, id asc
    scores = [(r["rrf_score"], -r["id"]) for r in out]
    assert scores == sorted(scores, key=lambda t: (-t[0], -t[1]))


def test_hybrid_rrf_k_limits(spark, corpus):
    out = hybrid_search_rrf(
        corpus, "id", "text", "v", "engine", [1.0, 0.0, 0.0], k=2, k_each=2
    ).collect()
    assert len(out) == 2


def test_hybrid_rrf_rejects_empty_query_vec(spark, corpus):
    with pytest.raises(ValueError):
        hybrid_search_rrf(corpus, "id", "text", "v", "engine", [], k=2)


def test_hybrid_rrf_no_global_windows(spark, corpus):
    """The rank windows must carry an explicit (bounded) partition key —
    the engine-wide no-global-window invariant."""
    from nail_parquet_spark.plans.explain import global_windows

    out = hybrid_search_rrf(
        corpus, "id", "text", "v", "engine", [1.0, 0.0, 0.0], k=3)
    assert global_windows(out) == []


def test_kmeans_assign_plan_no_shuffle(spark, vecs):
    """The assign pass must stay a streaming projection — no Exchange."""
    from nail_parquet_spark.plans.explain import plan_text

    cents = [[1.0, 0.0, 0.0, 0.0], [0.0, 1.0, 0.0, 0.0]]
    out = kmeans_assign(vecs, "v", cents)
    plan = plan_text(out)
    assert "Exchange" not in plan, plan


def _pair_dots_both_ways(spark, rows):
    """(old, new): the cluster-keyed self-join + HOF-fold dots, and the
    Arrow pair-dot pass, each as (id_a, id_b, dot, nprod) rows."""
    from nail_parquet_spark.functions.cluster import _pair_dots_arrow
    from nail_parquet_spark.functions.similarity import _dot_expr

    df = spark.createDataFrame(rows, "__kid long, __kv array<double>, cluster int")
    assigned = df.withColumn(
        "__kn",
        F.sqrt(F.aggregate(F.transform("__kv", lambda x: x * x),
                           F.lit(0.0), lambda a, b: a + b)))
    a = assigned.select(F.col("__kid").alias("id_a"), F.col("__kv").alias("__va"),
                        F.col("__kn").alias("__na"), "cluster")
    b = assigned.select(F.col("__kid").alias("id_b"), F.col("__kv").alias("__vb"),
                        F.col("__kn").alias("__nb"), "cluster")
    # compare at the dot level (the helper's contract); na*nb is the
    # orientation-invariant norm product the cosine divides by
    old = (a.join(b, "cluster").filter(F.col("id_a") < F.col("id_b"))
           .select("id_a", "id_b",
                   _dot_expr(F.col("__va"), F.col("__vb")).alias("dot"),
                   (F.col("__na") * F.col("__nb")).alias("nprod")))
    raw = _pair_dots_arrow(assigned)
    new = (raw.filter(F.col("__xid") != F.col("__yid"))
           .select(F.least("__xid", "__yid").alias("id_a"),
                   F.greatest("__xid", "__yid").alias("id_b"),
                   F.col("__dot").alias("dot"),
                   (F.col("__na") * F.col("__nb")).alias("nprod")))
    return old, new


def test_pair_dots_arrow_matches_hof_join(spark):
    """The Arrow pair-dot pass (r06 optimization) must reproduce the old
    cluster-keyed self-join + HOF-fold cosine bit-for-bit — including
    zip_with's null-padding semantics (ragged pair / NULL element -> NULL
    dot -> pair dropped) and empty vectors (dot 0.0)."""
    rows = [
        (0, [1.0, 0.25, -0.5], 0),
        (1, [0.99, 0.24, -0.51], 0),
        (2, [1.0, 0.25, -0.5, 0.1], 0),    # ragged: pairs with 0/1 NULL out
        (3, [0.5, None, 0.25], 0),          # NULL element: all pairs NULL out
        (4, [0.123456789, 1e-9, 7.5], 1),
        (5, [0.123456788, -1e-9, 7.5], 1),
        (6, [], 2),
        (7, [], 2),                         # empty pair: dot 0.0, norm 0.0
        (8, [2.0, 3.0], 3),                 # singleton cluster: no pairs
    ]
    old, new = _pair_dots_both_ways(spark, rows)
    assert new.exceptAll(old).count() == 0
    assert old.exceptAll(new).count() == 0
    # the NULL-dot pairs (ragged 2x, null-element 3x) survive as NULL
    assert new.filter(F.col("dot").isNull()).count() == \
        old.filter(F.col("dot").isNull()).count() == 5


def test_pair_dots_arrow_emits_bounded_blocks(spark, monkeypatch):
    """A cluster whose pairs span several blocks gives the same rows as
    the HOF join, and no emitted batch holds more than the block size —
    for the uniform numpy path and the ragged/NULL fallback alike."""
    import random

    import pyarrow as pa

    from nail_parquet_spark.functions import cluster

    rng = random.Random(5)
    uniform = [(i, [rng.uniform(-1, 1) for _ in range(5)], 0) for i in range(9)]
    ragged = [(100 + i, [rng.uniform(-1, 1) for _ in range(2 + i % 2)], 1)
              for i in range(6)] + [(106, [0.5, None], 1)]
    monkeypatch.setattr(cluster, "_PAIR_BLOCK", 4)
    old, new = _pair_dots_both_ways(spark, uniform + ragged)
    assert new.count() == 36 + 21
    assert new.exceptAll(old).count() == 0
    assert old.exceptAll(new).count() == 0
    for rows in (uniform, ragged):
        vecs = [v for _, v, _ in rows]
        tbl = pa.table({
            "__kid": pa.array([i for i, _, _ in rows], pa.int64()),
            "__kv": pa.array(vecs, pa.list_(pa.float64())),
            "__kn": pa.array([1.0] * len(rows), pa.float64())})
        sizes = [b.num_rows for b in cluster._pair_blocks(tbl, 4)]
        n = len(rows)
        assert len(sizes) > 1 and max(sizes) <= 4
        assert sum(sizes) == n * (n - 1) // 2


def test_lit_double_array_bit_identity(spark):
    """The one-call SQL-literal array builder must reproduce per-element
    F.lit bit-for-bit across the double range (repr round-trip + parser),
    including subnormals, extremes, negative zero and non-finite values."""
    import math
    import struct

    from nail_parquet_spark.functions.similarity import lit_double_array

    vals = [0.0, -0.0, 1.0, -1.5, 1e-300, 5e-324, 1.7976931348623157e+308,
            2.2250738585072014e-308, 0.1 + 0.2, 1 / 3, -7.123456789e-9,
            math.pi, float("nan"), float("inf"), float("-inf")]
    df = spark.range(1)
    old = df.select(F.array(*[F.lit(float(x)) for x in vals]).alias("a")).first()["a"]
    new = df.select(lit_double_array(vals).alias("a")).first()["a"]
    assert [struct.pack("d", v) for v in old] == [struct.pack("d", v) for v in new]
    empty = df.select(lit_double_array([]).alias("a")).first()["a"]
    assert empty == []


def test_plane_sig_sql_matches_column_form(spark):
    """The one-call SQL signature must equal the old chained Column form
    value-for-value (same buckets for every row)."""
    from nail_parquet_spark.functions.similarity import (
        _dot_expr, _plane_sig_sql, lsh_bucket, random_hyperplanes)

    planes = random_hyperplanes(6, 12, seed=7)
    rows = [(i, [float(i) * 0.1 - 0.3, -1.0, 0.5, 2.0, -0.25, float(i)])
            for i in range(50)]
    df = spark.createDataFrame(rows, "id long, v array<double>")
    sig = F.lit(0).cast("bigint")
    for j, plane in enumerate(planes):
        arr = F.array(*[F.lit(float(x)) for x in plane])
        dot = _dot_expr(F.col("v"), arr)
        sig = sig + F.when(dot > 0, F.lit(1 << j).cast("bigint")).otherwise(0)
    old = df.withColumn("lsh_bucket", sig).select("id", "lsh_bucket")
    new = lsh_bucket(df, "v", planes).select("id", "lsh_bucket")
    assert new.exceptAll(old).count() == 0
    assert old.exceptAll(new).count() == 0


def test_plane_sig_sql_backticked_column(spark):
    """A vector column whose name holds a backtick gets the same buckets
    as the same vectors under a plain name."""
    from nail_parquet_spark.functions.similarity import (
        lsh_bucket, random_hyperplanes)

    planes = random_hyperplanes(3, 8, seed=3)
    rows = [(i, [float(i) - 4.0, 1.0, -0.5 * i]) for i in range(10)]
    df = spark.createDataFrame(rows, "id long, v array<double>")
    odd = df.withColumnRenamed("v", "my`vec")
    got = lsh_bucket(odd, "my`vec", planes).select("id", "lsh_bucket")
    want = lsh_bucket(df, "v", planes).select("id", "lsh_bucket")
    assert sorted(got.collect()) == sorted(want.collect())
