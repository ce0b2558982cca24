"""Merge-on-read position deletes (codec/deletes.py + decode with_positions).

The reference's only row-deletion path rewrites the whole file
(src/commands/drop.rs); these tests pin the Iceberg-v2-shaped alternative:
coordinates out of decode_table(with_positions=True), predicate-driven
delete sets, and anti-join application that never rewrites a block.
"""

import pytest
from pyspark.sql import functions as F

from nail_parquet_spark.codec.decode import POS_COLUMNS, decode_table
from nail_parquet_spark.codec.deletes import (decode_except,
                                              decode_except_where,
                                              positions_where)
from nail_parquet_spark.codec.encode import encode_table


@pytest.fixture(scope="module")
def web_blocks(spark):
    # two partitions x 10-row blocks over a sorted key -> prunable zones
    df = (
        spark.range(200)
        .select(
            F.col("id").cast("long").alias("k"),
            F.concat(F.lit("u"), F.format_string("%04d", F.col("id"))).alias("url"),
            F.when(F.col("id") % 7 == 0, None)
             .otherwise(F.col("id") % 5).cast("long").alias("score"),
        )
        .repartition(2)
        .sortWithinPartitions("k")
    )
    blocks = encode_table(df, codecs={"k": "for_bitpack", "url": "zstd",
                                      "score": "rle"}, block_rows=10)
    return df, blocks.cache()


def test_with_positions_coordinates(spark, web_blocks):
    df, blocks = web_blocks
    dec = decode_table(blocks, with_positions=True)
    assert dec.columns == sorted(df.columns) + POS_COLUMNS
    rows = dec.collect()
    assert len(rows) == 200
    # in-memory single-job table: src key is the empty-string fallback
    assert {r["_src_file"] for r in rows} == {""}
    # positions are a dense 0..n-1 run inside every block group
    from collections import defaultdict

    by_grp = defaultdict(list)
    for r in rows:
        by_grp[(r["_part_id"], r["_block_id"])].append(r["_pos"])
    for key, ps in by_grp.items():
        assert sorted(ps) == list(range(len(ps))), key
    # 10-row blocks over 200 rows in 2 partitions -> every group is full
    assert all(len(ps) == 10 for ps in by_grp.values())
    # coordinates are unique table-wide
    assert dec.select(*POS_COLUMNS).distinct().count() == 200


def test_with_positions_reserved_name_clash(spark):
    df = spark.range(5).select(F.col("id").alias("_pos"))
    blocks = encode_table(df, codecs={"_pos": "plain"})
    with pytest.raises(ValueError, match="reserves column names"):
        decode_table(blocks, with_positions=True).collect()


def test_with_positions_column_subset(spark, web_blocks):
    df, blocks = web_blocks
    dec = decode_table(blocks, columns=["url"], with_positions=True)
    assert dec.columns == ["url"] + POS_COLUMNS
    assert dec.count() == 200


def test_positions_where_matches_filter(spark, web_blocks):
    df, blocks = web_blocks
    pos = positions_where(blocks, [("k", ">=", 150)])
    assert pos.columns == POS_COLUMNS
    assert pos.count() == 50
    # null-predicate rows are NOT matched (SQL three-valued logic)
    pos2 = positions_where(blocks, [("score", "=", 0)])
    want = df.filter(F.col("score") == 0).count()
    assert pos2.count() == want


def test_positions_where_or_clause_and_empty(spark, web_blocks):
    df, blocks = web_blocks
    pos = positions_where(blocks, [[("k", "<", 5), ("k", ">=", 195)]])
    assert pos.count() == 10
    empty = positions_where(blocks, [("k", ">", 10_000)])
    assert empty.columns == POS_COLUMNS
    assert empty.count() == 0
    with pytest.raises(ValueError, match="non-empty"):
        positions_where(blocks, [])
    with pytest.raises(ValueError, match="not in block table"):
        positions_where(blocks, [("nope", "=", 1)])


def test_decode_except_equals_not_true_filter(spark, web_blocks):
    df, blocks = web_blocks
    dels = positions_where(blocks, [("score", "=", 0)])
    got = decode_except(blocks, dels, broadcast_deletes=True)
    # kept rows = predicate IS NOT TRUE (nulls survive a delete-by-predicate)
    want = df.filter(~(F.col("score") == 0) | F.col("score").isNull())
    assert got.count() == want.count()
    assert sorted(r.k for r in got.collect()) == sorted(
        r.k for r in want.collect())


def test_decode_except_union_of_delete_sets(spark, web_blocks):
    df, blocks = web_blocks
    d1 = positions_where(blocks, [("k", "<", 20)])
    d2 = positions_where(blocks, [("k", ">=", 190)])
    got = decode_except(blocks, d1.unionByName(d2), columns=["k"],
                        broadcast_deletes=True)
    assert got.columns == ["k"]
    assert got.count() == 170
    assert got.agg(F.min("k")).first()[0] == 20
    # overlapping delete sets are idempotent (same coordinates union away)
    got2 = decode_except(blocks, d1.unionByName(d1), columns=["k"],
                         broadcast_deletes=True)
    assert got2.count() == 180


def test_decode_except_ignores_extra_columns(spark, web_blocks):
    df, blocks = web_blocks
    dels = positions_where(blocks, [("k", "=", 7)]).withColumn(
        "why", F.lit("audit"))
    got = decode_except(blocks, dels, broadcast_deletes=True)
    assert got.count() == 199


def test_decode_except_where_filters_on_columns_it_does_not_return(
        spark, web_blocks):
    # the predicate column decodes for the filter, then is projected away
    df, blocks = web_blocks
    dels = positions_where(blocks, [("k", "<", 50)])
    got = decode_except_where(blocks, dels, [("score", "=", 3)],
                              columns=["url"])
    assert got.columns == ["url"]
    want = df.filter((F.col("score") == 3) & (F.col("k") >= 50))
    assert (sorted(r[0] for r in got.collect())
            == sorted(r[0] for r in want.select("url").collect()))


def test_positions_stable_on_disk_and_across_jobs(spark, tmp_path):
    # two independent encode jobs in one dir: part/block ids collide, the
    # file coordinate disambiguates — exactly the resumable-out_dir layout
    d = str(tmp_path / "blk")
    df1 = spark.range(30).select(F.col("id").alias("k")).coalesce(1)
    df2 = spark.range(30, 60).select(F.col("id").alias("k")).coalesce(1)
    encode_table(df1, codecs={"k": "for_bitpack"}, block_rows=10) \
        .write.parquet(d)
    encode_table(df2, codecs={"k": "for_bitpack"}, block_rows=10) \
        .write.mode("append").parquet(d)
    blocks = spark.read.parquet(d)
    pos = positions_where(blocks, [("k", "in", [5, 35])])
    rows = pos.collect()
    assert len(rows) == 2
    assert len({r["_src_file"] for r in rows}) == 2  # distinct files
    # coordinates are reproducible across reads of the same on-disk table
    again = positions_where(spark.read.parquet(d), [("k", "in", [5, 35])])
    assert sorted(map(tuple, rows)) == sorted(map(tuple, again.collect()))
    kept = decode_except(spark.read.parquet(d), pos, broadcast_deletes=True)
    assert kept.count() == 58
    assert {r.k for r in kept.collect()} == set(range(60)) - {5, 35}
