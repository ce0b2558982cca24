"""Grouped aggregate pushdown (codec/inspect.group_stats_pushdown)."""

import pytest
from pyspark.sql import functions as F

from nail_parquet_spark.codec.decode import decode_table
from nail_parquet_spark.codec.encode import encode_table
from nail_parquet_spark.codec.inspect import group_stats_pushdown


def model(dec, g, v, scast):
    out = (dec.groupBy(g)
           .agg(F.count(F.lit(1)).alias("n_rows"),
                F.count(v).alias("n_vals"),
                F.sum(F.col(v).cast(scast)).alias("sum_val"),
                F.min(v).alias("min_val"),
                F.max(v).alias("max_val"))
           .withColumn("avg_val", F.when(
               F.col("n_vals") > 0,
               F.col("sum_val").cast("double") / F.col("n_vals"))))
    return sorted((tuple(r) for r in out.collect()), key=repr)


def got_of(blocks, g, v):
    out = group_stats_pushdown(blocks, g, v)
    return sorted((tuple(r) for r in out.collect()), key=repr)


def test_clustered_layout_matches_model(spark):
    rows = [(lang, 10 * li + (i % 7) if i % 5 else None)
            for li, lang in enumerate("abcd") for i in range(50)]
    df = (spark.createDataFrame(rows, "lang string, v long")
          .repartition(1).sortWithinPartitions("lang", "v"))
    blocks = encode_table(df, codecs={"lang": "dict", "v": "plain"},
                          block_rows=10).cache()
    assert got_of(blocks, "lang", "v") == \
        model(decode_table(blocks, columns=["lang", "v"]),
              "lang", "v", "decimal(38,0)")


def test_interleaved_layout_residual_path(spark):
    rows = [("ab"[i % 2], i) for i in range(100)]
    df = (spark.createDataFrame(rows, "g string, v long")
          .repartition(1).sortWithinPartitions("v"))
    blocks = encode_table(df, codecs={"g": "dict", "v": "plain"},
                          block_rows=10).cache()
    assert got_of(blocks, "g", "v") == \
        model(decode_table(blocks, columns=["g", "v"]),
              "g", "v", "decimal(38,0)")


def test_null_groups_and_allnull_value_blocks(spark):
    rows = ([(None, i) for i in range(10)]
            + [("a", None) for _ in range(10)]       # all-null v block
            + [("b", i * 3) for i in range(10)]
            + [("b", None), ("c", 5)])
    df = (spark.createDataFrame(rows, "g string, v long")
          .repartition(1).sortWithinPartitions("g"))
    blocks = encode_table(df, codecs={"g": "dict", "v": "plain"},
                          block_rows=10).cache()
    got = got_of(blocks, "g", "v")
    assert got == model(decode_table(blocks, columns=["g", "v"]),
                        "g", "v", "decimal(38,0)")
    by_g = {t[0]: t for t in got}
    # the all-null-v group reports NULL sum/min/max/avg, n_vals 0
    assert by_g["a"][1:] == (10, 0, None, None, None, None)
    assert by_g[None][1] == 10  # NULL group is grouped, SQL semantics


def test_float_value_and_int_group(spark):
    rows = [(i % 3, float(i) / 4) for i in range(90)]
    df = (spark.createDataFrame(rows, "g long, v double")
          .repartition(1).sortWithinPartitions("g", "v"))
    blocks = encode_table(df, codecs={"g": "rle", "v": "plain"},
                          block_rows=10).cache()
    assert got_of(blocks, "g", "v") == \
        model(decode_table(blocks, columns=["g", "v"]), "g", "v", "double")


def test_timestamp_date_and_bool_groups(spark):
    # every kind with zone stats can group: point blocks read their group
    # value back in the column's own type, so the metadata side unions
    # with the residual decode
    df = (spark.range(60).select(
        (F.lit("2024-01-01").cast("timestamp")
         + F.make_interval(hours=(F.col("id") / 20).cast("int"))).alias("ts"),
        F.date_add(F.lit("2024-01-01").cast("date"),
                   (F.col("id") / 20).cast("int")).alias("d"),
        (F.col("id") < 30).alias("b"),
        F.col("id").alias("v"))
        .repartition(1).sortWithinPartitions("ts"))
    blocks = encode_table(df, codecs={"ts": "plain", "d": "plain",
                                      "b": "plain", "v": "plain"},
                          block_rows=10).cache()
    for g in ("ts", "d", "b"):
        assert got_of(blocks, g, "v") == \
            model(decode_table(blocks, columns=[g, "v"]),
                  g, "v", "decimal(38,0)"), g


def test_random_layout_multi_part(spark):
    import random

    rng = random.Random(3)
    rows = [(rng.choice("xyz"), rng.randrange(-50, 1000)) for _ in range(400)]
    df = spark.createDataFrame(rows, "g string, v long").repartition(4)
    blocks = encode_table(df, codecs={"g": "dict", "v": "plain"},
                          block_rows=32).cache()
    assert got_of(blocks, "g", "v") == \
        model(decode_table(blocks, columns=["g", "v"]),
              "g", "v", "decimal(38,0)")


def test_validation(spark):
    df = spark.createDataFrame([("a", 1, b"x")], "g string, v long, b binary")
    blocks = encode_table(df.repartition(1),
                          codecs={"g": "dict", "v": "plain", "b": "zstd"})
    with pytest.raises(ValueError, match="must differ"):
        group_stats_pushdown(blocks, "v", "v")
    with pytest.raises(ValueError, match="not in the blocks"):
        group_stats_pushdown(blocks, "nope", "v")
    with pytest.raises(ValueError, match="numeric-only"):
        group_stats_pushdown(blocks, "g", "b")
    with pytest.raises(ValueError, match="zone stats"):
        group_stats_pushdown(blocks, "b", "v")


def test_cli_blockstats_group(spark, tmp_path, capsys):
    from nail_parquet_spark.cli import main

    src = str(tmp_path / "src.parquet")
    rows = [("ab"[i % 2], i) for i in range(40)]
    (spark.createDataFrame(rows, "g string, v long")
     .repartition(1).sortWithinPartitions("g", "v").write.parquet(src))
    enc = str(tmp_path / "enc")
    assert main(["optimize", src, "-o", enc]) == 0
    assert main(["blockstats", enc, "--group-stats", "g:v"]) == 0
    got = capsys.readouterr().out
    assert "n_rows" in got and "sum_val" in got


def test_cli_blockstats_snapshot_table_routing(spark, tmp_path, capsys):
    """blockstats on a snapshot table must use the visibility rule (not a
    raw recursive read that would sweep _deletes files and superseded
    batches), and must REFUSE once row deletes are visible — metadata
    pushdowns would count deleted rows."""
    import pytest as _pytest

    from nail_parquet_spark.cli import main
    from nail_parquet_spark.pipeline.checkpoint import encode_resumable
    from nail_parquet_spark.pipeline.deletes import delete_where

    src = str(tmp_path / "snap_src")
    (spark.createDataFrame([(i, i * 2) for i in range(40)], "k long, v long")
     .repartition(1).write.parquet(src))
    out = str(tmp_path / "snap_enc")
    encode_resumable(spark, src, out)
    # no --snapshot flag: still routed through the snapshot log
    assert main(["blockstats", out, "--group-stats", "k:v"]) == 0
    assert "n_rows" in capsys.readouterr().out
    delete_where(spark, out, [("k", "<", 5)])
    with _pytest.raises(SystemExit):
        main(["blockstats", out, "--group-stats", "k:v"])
    # the refusal is scoped to the LOGICAL aggregates; the flagless
    # physical listing stays available with a warning (ADVICE r5 #4)
    capsys.readouterr()
    assert main(["blockstats", out]) == 0
    captured = capsys.readouterr()
    assert "committed row deletes" in captured.err
    # physical listing: per-column count/min/max JSON, pre-delete counts
    assert '"count": 40' in captured.out


def test_multibatch_pair_collision_exact(spark, tmp_path):
    """(part_id, block_id) collides across a snapshot table's batch dirs;
    group/value metadata must join on the physical block (source file),
    or counts double. Regression for the src-keyed join."""
    from nail_parquet_spark.pipeline.checkpoint import (
        encode_resumable, read_blocks_at)

    (spark.createDataFrame([("a", i) for i in range(10)], "g string, v long")
     .repartition(1).write.parquet(str(tmp_path / "s1")))
    (spark.createDataFrame([("b", 100 + i) for i in range(10)],
                           "g string, v long")
     .repartition(1).write.parquet(str(tmp_path / "s2")))
    out = str(tmp_path / "enc")
    encode_resumable(spark, str(tmp_path / "s1"), out)
    encode_resumable(spark, str(tmp_path / "s2"), out)
    # NOT cached: input_file_name() is undefined over an InMemoryRelation,
    # and physical-block identity needs the source file on multi-batch dirs
    blocks = read_blocks_at(spark, out)
    # both batches expose a block (0, 0): the bare pair is ambiguous
    pairs = (blocks.select("part_id", "block_id").distinct().count())
    rows = blocks.select(F.input_file_name(), "part_id", "block_id") \
        .distinct().count()
    assert rows > pairs  # the collision actually exists in this fixture
    got = got_of(blocks, "g", "v")
    want = model(decode_table(blocks, columns=["g", "v"]),
                 "g", "v", "decimal(38,0)")
    assert got == want
    by_g = {t[0]: t for t in got}
    assert by_g["a"][1] == 10 and by_g["b"][1] == 10  # not doubled


def test_union_identity_collapse_is_loud_not_silent(spark):
    """A union of two in-memory encode jobs has no file identity and the
    bare pairs collide: the pushdown must NOT silently double-count — it
    falls back to the full decode, whose group assembly refuses the
    ambiguous duplicate groups loudly."""
    d1 = spark.createDataFrame([("a", i) for i in range(8)],
                               "g string, v long").repartition(1)
    d2 = spark.createDataFrame([("b", 10 + i) for i in range(8)],
                               "g string, v long").repartition(1)
    b1 = encode_table(d1, codecs={"g": "dict", "v": "plain"})
    b2 = encode_table(d2, codecs={"g": "dict", "v": "plain"})
    blocks = b1.unionByName(b2)
    with pytest.raises(Exception, match="duplicate|distinct groups"):
        group_stats_pushdown(blocks, "g", "v").collect()
