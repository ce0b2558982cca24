"""Top-k pushdown from zone maps (prune_blocks_topk / decode_topk)."""

import pytest
from pyspark.sql import functions as F

from nail_parquet_spark.codec.decode import (
    decode_table,
    decode_topk,
    prune_blocks_topk,
)
from nail_parquet_spark.codec.encode import encode_table


@pytest.fixture(scope="module")
def sorted_blocks(spark):
    df = (
        spark.range(100)
        .select(
            F.col("id").cast("long").alias("k"),
            F.concat(F.lit("v"), F.format_string("%03d", F.col("id"))).alias("s"),
        )
        .repartition(1)
        .sortWithinPartitions("k")
    )
    blocks = encode_table(df, codecs={"k": "for_bitpack", "s": "zstd"},
                          block_rows=10)
    return df, blocks.cache()


def n_groups(blocks):
    return blocks.select("part_id", "block_id").distinct().count()


def expect(df, col, k, desc=True, tiebreak="k"):
    order = [F.col(col).desc() if desc else F.col(col).asc()]
    if tiebreak:
        order.append(F.col(tiebreak).asc())
    return [tuple(r) for r in
            df.filter(F.col(col).isNotNull()).orderBy(*order).limit(k).collect()]


def test_desc_prunes_to_tail_blocks(spark, sorted_blocks):
    df, blocks = sorted_blocks
    pruned = prune_blocks_topk(blocks, "k", 10, descending=True)
    # ids 90..99 live in ONE block; the bound keeps exactly it
    assert n_groups(pruned) == 1
    got = [tuple(r) for r in
           decode_topk(blocks, "k", 10, tiebreak="s",
                       columns=["k", "s"]).collect()]
    assert got == expect(df.select("k", "s"), "k", 10, desc=True, tiebreak="s")


def test_asc_prunes_to_head_blocks(spark, sorted_blocks):
    df, blocks = sorted_blocks
    pruned = prune_blocks_topk(blocks, "k", 25, descending=False)
    assert n_groups(pruned) == 3  # 25 rows span blocks 0,1,2
    got = [tuple(r) for r in
           decode_topk(blocks, "k", 25, tiebreak="s", descending=False,
                       columns=["k", "s"]).collect()]
    assert got == expect(df.select("k", "s"), "k", 25, desc=False, tiebreak="s")


def test_string_column_topk(spark, sorted_blocks):
    df, blocks = sorted_blocks
    got = [tuple(r) for r in
           decode_topk(blocks, "s", 7, tiebreak="k",
                       columns=["k", "s"]).collect()]
    assert got == expect(df.select("k", "s"), "s", 7, tiebreak="k")
    assert n_groups(prune_blocks_topk(blocks, "s", 7)) == 1


def test_boundary_ties_all_kept(spark):
    # value 5 repeats across two blocks at the k-th boundary: both blocks
    # must stay so the tiebreak resolves exactly
    rows = [(i, v) for i, v in enumerate([5, 5, 5, 1, 1, 5, 5, 9, 2, 2])]
    df = spark.createDataFrame(rows, "id long, v long") \
        .repartition(1).sortWithinPartitions("id")
    blocks = encode_table(df, codecs={"id": "plain", "v": "plain"},
                          block_rows=5)
    got = [tuple(r) for r in
           decode_topk(blocks, "v", 3, tiebreak="id",
                       columns=["id", "v"]).collect()]
    assert got == expect(df, "v", 3, tiebreak="id")
    assert got == [(7, 9), (0, 5), (1, 5)]


def test_nulls_never_rank(spark):
    df = spark.createDataFrame(
        [(1, None), (2, 10), (3, None), (4, 7)], "id long, v long") \
        .repartition(1)
    blocks = encode_table(df, codecs={"id": "plain", "v": "plain"},
                          block_rows=2)
    got = [tuple(r) for r in
           decode_topk(blocks, "v", 3, tiebreak="id",
                       columns=["id", "v"]).collect()]
    assert got == [(2, 10), (4, 7)]


def test_k_exceeds_rows(spark, sorted_blocks):
    df, blocks = sorted_blocks
    got = [tuple(r) for r in
           decode_topk(blocks, "k", 1000, tiebreak="s",
                       columns=["k", "s"]).collect()]
    assert got == expect(df.select("k", "s"), "k", 1000)


def test_unsupported_kind_raises(spark):
    df = spark.createDataFrame([(1, b"x")], "id long, b binary").repartition(1)
    blocks = encode_table(df, codecs={"id": "plain", "b": "zstd"})
    with pytest.raises(ValueError, match="zone stats"):
        prune_blocks_topk(blocks, "b", 1)
    with pytest.raises(ValueError, match="k must be"):
        prune_blocks_topk(blocks, "id", 0)


def test_matches_full_decode_random_layout(spark):
    import random

    rng = random.Random(7)
    rows = [(i, rng.randrange(1000)) for i in range(400)]
    df = spark.createDataFrame(rows, "id long, v long").repartition(4)
    blocks = encode_table(df, codecs={"id": "plain", "v": "plain"},
                          block_rows=32).cache()
    full = decode_table(blocks, columns=["id", "v"])
    for desc in (True, False):
        got = [tuple(r) for r in
               decode_topk(blocks, "v", 20, tiebreak="id", descending=desc,
                           columns=["id", "v"]).collect()]
        assert got == expect(full, "v", 20, desc=desc, tiebreak="id")


def test_cli_decode_top(spark, tmp_path, capsys):
    from nail_parquet_spark.cli import main

    src = str(tmp_path / "src.parquet")
    spark.createDataFrame([(i, i * 3 % 17) for i in range(60)],
                          "id long, v long") \
        .repartition(1).write.parquet(src)
    enc = str(tmp_path / "enc")
    assert main(["optimize", src, "-o", enc]) == 0
    out = str(tmp_path / "top.parquet")
    assert main(["decode", enc, "--top", "v:5", "--tiebreak", "id",
                 "-o", out]) == 0
    got = [tuple(r) for r in spark.read.parquet(out)
           .orderBy(F.desc("v"), "id").collect()]
    want = [tuple(r) for r in spark.read.parquet(src)
            .orderBy(F.desc("v"), "id").limit(5).collect()]
    assert sorted(got) == sorted(want)
    out2 = str(tmp_path / "bottom.parquet")
    assert main(["decode", enc, "--top", "v:5:asc", "--tiebreak", "id",
                 "-o", out2]) == 0
    want2 = [tuple(r) for r in spark.read.parquet(src)
             .orderBy("v", "id").limit(5).collect()]
    assert sorted(tuple(r) for r in spark.read.parquet(out2).collect()) \
        == sorted(want2)


# ---- grouped top-k (prune_blocks_topk_by / decode_topk_by) ----

from nail_parquet_spark.codec.decode import (  # noqa: E402
    decode_topk_by,
    prune_blocks_topk_by,
)


def expect_by(df, g, col, k, desc=True, tiebreak=None):
    from pyspark.sql import Window

    order = [F.col(col).desc() if desc else F.col(col).asc()]
    if tiebreak:
        order.append(F.col(tiebreak).asc())
    w = Window.partitionBy(g).orderBy(*order)
    out = (df.filter(F.col(g).isNotNull() & F.col(col).isNotNull())
           .withColumn("__rn", F.row_number().over(w))
           .filter(F.col("__rn") <= k).drop("__rn"))
    return sorted(tuple(r) for r in out.collect())


@pytest.fixture(scope="module")
def grouped_blocks(spark):
    # 3 langs x 40 rows, clustered by (lang, score): every block is a
    # single-lang point block — the layout optimize --sort-by produces
    rows = [(lang, i, 40 * li + i) for li, lang in enumerate("abc")
            for i in range(40)]
    df = (spark.createDataFrame(rows, "lang string, score long, id long")
          .repartition(1).sortWithinPartitions("lang", "score"))
    blocks = encode_table(
        df, codecs={"lang": "dict", "score": "plain", "id": "plain"},
        block_rows=10)
    return df, blocks.cache()


def test_grouped_prunes_per_group_tail(spark, grouped_blocks):
    df, blocks = grouped_blocks
    # 12 blocks total (4 per lang); top-10 desc needs exactly the last
    # block of each lang
    assert n_groups(blocks) == 12
    pruned = prune_blocks_topk_by(blocks, "lang", "score", 10)
    assert n_groups(pruned) == 3
    got = sorted(tuple(r) for r in
                 decode_topk_by(blocks, "lang", "score", 10, tiebreak="id",
                                columns=["lang", "score", "id"]).collect())
    assert got == expect_by(df.select("lang", "score", "id"),
                            "lang", "score", 10, tiebreak="id")


def test_grouped_asc(spark, grouped_blocks):
    df, blocks = grouped_blocks
    pruned = prune_blocks_topk_by(blocks, "lang", "score", 10,
                                  descending=False)
    assert n_groups(pruned) == 3
    got = sorted(tuple(r) for r in
                 decode_topk_by(blocks, "lang", "score", 10, tiebreak="id",
                                descending=False,
                                columns=["lang", "score", "id"]).collect())
    assert got == expect_by(df.select("lang", "score", "id"),
                            "lang", "score", 10, desc=False, tiebreak="id")


def test_grouped_spanning_blocks_always_kept(spark):
    # interleaved layout: every block spans langs -> zero pruning, but the
    # answer stays exact
    rows = [("ab"[i % 2], i, i) for i in range(100)]
    df = (spark.createDataFrame(rows, "lang string, score long, id long")
          .repartition(1).sortWithinPartitions("score"))
    blocks = encode_table(
        df, codecs={"lang": "dict", "score": "plain", "id": "plain"},
        block_rows=10).cache()
    pruned = prune_blocks_topk_by(blocks, "lang", "score", 5)
    assert n_groups(pruned) == n_groups(blocks)
    got = sorted(tuple(r) for r in
                 decode_topk_by(blocks, "lang", "score", 5, tiebreak="id",
                                columns=["lang", "score", "id"]).collect())
    assert got == expect_by(df, "lang", "score", 5, tiebreak="id")


def test_grouped_nulls_never_rank(spark):
    rows = [(None, 99, 0), ("a", None, 1), ("a", 7, 2), ("a", 3, 3),
            ("b", 5, 4), ("b", 8, 5)]
    df = (spark.createDataFrame(rows, "lang string, score long, id long")
          .repartition(1))
    blocks = encode_table(
        df, codecs={"lang": "dict", "score": "plain", "id": "plain"},
        block_rows=2)
    got = sorted(tuple(r) for r in
                 decode_topk_by(blocks, "lang", "score", 1, tiebreak="id",
                                columns=["lang", "score", "id"]).collect())
    assert got == [("a", 7, 2), ("b", 8, 5)]


def test_grouped_allnull_blocks_dropped(spark):
    # a block whose score column is entirely NULL can never rank: dropped
    rows = ([("a", None, i) for i in range(10)]
            + [("a", i, 10 + i) for i in range(10)])
    df = (spark.createDataFrame(rows, "lang string, score long, id long")
          .repartition(1).sortWithinPartitions("id"))
    blocks = encode_table(
        df, codecs={"lang": "dict", "score": "plain", "id": "plain"},
        block_rows=10).cache()
    assert n_groups(blocks) == 2
    pruned = prune_blocks_topk_by(blocks, "lang", "score", 5)
    assert n_groups(pruned) == 1
    got = sorted(tuple(r) for r in
                 decode_topk_by(blocks, "lang", "score", 5, tiebreak="id",
                                columns=["lang", "score", "id"]).collect())
    assert got == expect_by(df, "lang", "score", 5, tiebreak="id")


def test_grouped_boundary_ties_kept(spark):
    # k-th value ties across two point blocks of the same group: both stay
    rows = [("a", v, i) for i, v in enumerate([9, 5, 5, 1, 5, 5, 2, 2])]
    df = (spark.createDataFrame(rows, "lang string, score long, id long")
          .repartition(1).sortWithinPartitions("id"))
    blocks = encode_table(
        df, codecs={"lang": "dict", "score": "plain", "id": "plain"},
        block_rows=4)
    got = sorted(tuple(r) for r in
                 decode_topk_by(blocks, "lang", "score", 3, tiebreak="id",
                                columns=["lang", "score", "id"]).collect())
    assert got == expect_by(df, "lang", "score", 3, tiebreak="id")
    assert got == [("a", 5, 1), ("a", 5, 2), ("a", 9, 0)]


def test_grouped_matches_full_decode_random(spark):
    import random

    rng = random.Random(13)
    rows = [(rng.choice("wxyz"), rng.randrange(200), i) for i in range(400)]
    df = (spark.createDataFrame(rows, "g string, v long, id long")
          .repartition(4).sortWithinPartitions("g", "v"))
    blocks = encode_table(
        df, codecs={"g": "dict", "v": "plain", "id": "plain"},
        block_rows=32).cache()
    full = decode_table(blocks, columns=["g", "v", "id"])
    for desc in (True, False):
        got = sorted(tuple(r) for r in
                     decode_topk_by(blocks, "g", "v", 7, tiebreak="id",
                                    descending=desc,
                                    columns=["g", "v", "id"]).collect())
        assert got == expect_by(full, "g", "v", 7, desc=desc, tiebreak="id")


def test_grouped_validation(spark, grouped_blocks):
    _, blocks = grouped_blocks
    with pytest.raises(ValueError, match="must differ"):
        prune_blocks_topk_by(blocks, "score", "score", 1)
    with pytest.raises(ValueError, match="k must be"):
        prune_blocks_topk_by(blocks, "lang", "score", 0)
    with pytest.raises(ValueError, match="not in the blocks"):
        prune_blocks_topk_by(blocks, "nope", "score", 1)


def test_cli_decode_top_group(spark, tmp_path):
    from nail_parquet_spark.cli import main

    src = str(tmp_path / "gsrc.parquet")
    rows = [("ab"[i % 2], i * 7 % 23, i) for i in range(60)]
    (spark.createDataFrame(rows, "g string, v long, id long")
     .repartition(1).sortWithinPartitions("g", "v").write.parquet(src))
    enc = str(tmp_path / "genc")
    assert main(["optimize", src, "-o", enc]) == 0
    out = str(tmp_path / "gtop.parquet")
    assert main(["decode", enc, "--top", "v:4", "--top-group", "g",
                 "--tiebreak", "id", "-o", out]) == 0
    got = sorted(tuple(r) for r in
                 spark.read.parquet(out).select("g", "v", "id").collect())
    want = expect_by(spark.read.parquet(src), "g", "v", 4, tiebreak="id")
    assert got == want


def test_grouped_multibatch_pair_collision_exact(spark, tmp_path):
    """Two batch dirs both expose block (0,0); the physical block whose
    surviving stats said 'all-null, drop' must not shadow the other
    batch's block that holds a group's true top-k. Regression for the
    src-keyed stats map in prune_blocks_topk_by."""
    from nail_parquet_spark.pipeline.checkpoint import (
        encode_resumable, read_blocks_at)

    (spark.createDataFrame([("a", i, i) for i in range(10)],
                           "g string, v long, id long")
     .repartition(1).write.parquet(str(tmp_path / "s1")))
    (spark.createDataFrame([("b", None, 100 + i) for i in range(10)],
                           "g string, v long, id long")
     .repartition(1).write.parquet(str(tmp_path / "s2")))
    out = str(tmp_path / "enc")
    encode_resumable(spark, str(tmp_path / "s1"), out)
    encode_resumable(spark, str(tmp_path / "s2"), out)
    # NOT cached: input_file_name() is undefined over an InMemoryRelation,
    # and physical-block identity needs the source file on multi-batch dirs
    blocks = read_blocks_at(spark, out)
    got = sorted(tuple(r) for r in
                 decode_topk_by(blocks, "g", "v", 3, tiebreak="id",
                                columns=["g", "v", "id"]).collect())
    full = decode_table(blocks, columns=["g", "v", "id"])
    assert got == expect_by(full, "g", "v", 3, tiebreak="id")
    assert {t[0] for t in got} == {"a"}  # b is all-null: never ranks


def test_grouped_union_identity_collapse_skips_pruning(spark):
    """Colliding physical identities over a union of in-memory encode
    jobs: the grouped pruner must prune NOTHING (stats would shadow each
    other) and leave readability to the decode layer's duplicate guard."""
    d1 = spark.createDataFrame([("a", i, i) for i in range(8)],
                               "g string, v long, id long").repartition(1)
    d2 = spark.createDataFrame([("b", 10 + i, 100 + i) for i in range(8)],
                               "g string, v long, id long").repartition(1)
    b1 = encode_table(d1, codecs={"g": "dict", "v": "plain", "id": "plain"})
    b2 = encode_table(d2, codecs={"g": "dict", "v": "plain", "id": "plain"})
    blocks = b1.unionByName(b2)
    pruned = prune_blocks_topk_by(blocks, "g", "v", 2)
    assert n_groups(pruned) == n_groups(blocks)


def test_timestamp_and_date_topk(spark):
    # whole-second and sub-second timestamps render in different shapes
    # ('...00:00:07+00:00' vs '...00:00:03.000500+00:00'): only a parse
    # orders them, so top-k must read them back, not compare the strings
    base = "2024-01-01 00:00:00"
    df = (
        spark.range(40)
        .select(
            F.col("id").alias("id"),
            F.when(F.col("id") % 11 == 5, F.lit(None)).otherwise(
                F.lit(base).cast("timestamp")
                + F.make_interval(secs=(F.col("id") * 7 % 40)
                                  + F.when(F.col("id") % 3 == 0, F.lit(0.0005))
                                  .otherwise(F.lit(0.0)))).alias("ts"),
            F.date_add(F.lit(base).cast("date"),
                       (F.col("id") * 13 % 40).cast("int")).alias("d"),
            F.when(F.col("id") < 20, F.lit("a")).otherwise(F.lit("b"))
            .alias("g"),
        )
        .repartition(1)
        .sortWithinPartitions("g", "ts")
    )
    blocks = encode_table(df, codecs={"id": "plain", "ts": "delta_bitpack",
                                      "d": "plain", "g": "dict"},
                          block_rows=5).cache()
    renders = [r[0] for r in blocks.filter(F.col("column") == "ts")
               .select("max_val").collect() if r[0] is not None]
    assert any("." in r for r in renders) and any("." not in r for r in renders)
    cols = ["id", "ts", "d", "g"]
    for col in ("ts", "d"):
        for desc in (True, False):
            got = [tuple(r) for r in
                   decode_topk(blocks, col, 6, tiebreak="id",
                               descending=desc, columns=cols).collect()]
            assert got == expect(df.select(*cols), col, 6, desc=desc,
                                 tiebreak="id"), (col, desc)
            got_by = sorted(tuple(r) for r in
                            decode_topk_by(blocks, "g", col, 3,
                                           tiebreak="id", descending=desc,
                                           columns=cols).collect())
            assert got_by == expect_by(df.select(*cols), "g", col, 3,
                                       desc=desc, tiebreak="id"), (col, desc)
    # the layout is sorted by (g, ts): the bound keeps a minority of groups
    assert n_groups(prune_blocks_topk(blocks, "ts", 6)) < n_groups(blocks) // 2
