"""The driver-side block index: one metadata read per blocks-table op, and
the over-cap flow of a table with more groups than ``max_groups``."""
import pytest
from pyspark.sql import functions as F

from nail_parquet_spark.codec import blockindex
from nail_parquet_spark.codec.blockindex import BlockIndex
from nail_parquet_spark.codec.decode import (_pred_expr, decode_semijoin,
                                             decode_table_where_all,
                                             decode_topk)
from nail_parquet_spark.codec.encode import encode_table
from nail_parquet_spark.codec.inspect import (count_where_pushdown,
                                              frequency_pushdown)


@pytest.fixture(scope="module")
def small(spark):
    # 40 sorted rows in 10 four-row groups, a bloom on the string column
    df = (spark.range(40)
          .select(F.col("id").alias("k"),
                  F.format_string("u%02d", F.col("id")).alias("s"),
                  (F.col("id") % 3).cast("string").alias("g"))
          .coalesce(1).sortWithinPartitions("k"))
    blocks = encode_table(df, codecs={"k": "for_bitpack", "s": "zstd",
                                      "g": "dict"},
                          block_rows=4, bloom_columns=["s"]).cache()
    return df, blocks


def test_one_index_load_per_op(spark, small, monkeypatch):
    df, blocks = small
    loads = []
    load = BlockIndex.load.__func__

    def counted(cls, *args, **kwargs):
        loads.append(1)
        return load(cls, *args, **kwargs)

    monkeypatch.setattr(BlockIndex, "load", classmethod(counted))
    keys = spark.createDataFrame([("u03",), ("u31",)], "s string")
    ops = {
        "where": lambda: decode_table_where_all(
            blocks, [("s", "=", "u17"), [("k", ">=", 10), ("g", "=", "1")]]
        ).collect(),
        "count": lambda: count_where_pushdown(blocks, "k", ">=", 13),
        "topk": lambda: decode_topk(blocks, "k", 3).collect(),
        "semijoin": lambda: decode_semijoin(blocks, keys, "s").collect(),
        "freq": lambda: frequency_pushdown(blocks, "g").collect(),
    }
    for name, op in ops.items():
        loads.clear()
        op()
        assert len(loads) == 1, name


@pytest.mark.parametrize("max_groups", [0, 2, 100])
@pytest.mark.parametrize("op, value", [(">=", 13), ("<", 8.5), ("!=", 5),
                                       ("isnull", None)])
def test_count_over_the_cap(spark, small, max_groups, op, value):
    # max_groups 0 and 2 put the 10-group table over the cap: the metadata
    # decides in tasks, and a boundary set over the cap decodes everything
    df, blocks = small
    got = count_where_pushdown(blocks, "k", op, value, max_groups=max_groups)
    assert got["count"] == df.filter(_pred_expr("k", op, value)).count()
    assert got["groups_total"] == 10
    assert got["groups_metadata"] + got["groups_decoded"] == 10
    if op == ">=" and max_groups:
        assert got["groups_decoded"] == 1
    if op == "isnull":
        assert got["groups_decoded"] == 0  # the null counters decide


def test_over_cap_index_prunes_nothing(spark, small):
    _, blocks = small
    idx = BlockIndex.load(blocks, max_groups=2)
    assert idx.blocks is None and sorted(idx.headers) == ["g", "k", "s"]
    assert idx.keep([[("k", "=", 5)]]) is None
    assert BlockIndex.load(blocks).keep([[("k", "=", 5)]]) == {(0, 1)}


def _collected_rows(monkeypatch, frame):
    """Record the row count of every collect() of ``frame``'s class."""
    cls = type(frame)
    sizes = []
    collect = cls.collect

    def counted(self):
        rows = collect(self)
        sizes.append(len(rows))
        return rows

    monkeypatch.setattr(cls, "collect", counted)
    return sizes


@pytest.mark.parametrize("max_groups, over", [(6, True), (12, False)])
def test_load_bounds_rows_before_the_driver(spark, small, monkeypatch,
                                            max_groups, over):
    # 5 partitions of 6 metadata rows: each partition sends at most its
    # share of max_groups + 1 rows, so no collect over the cap grows with
    # the table; an exact group count then decides the cap
    _, blocks = small
    many = blocks.repartition(5).cache()
    assert many.rdd.getNumPartitions() == 5
    sizes = _collected_rows(monkeypatch, many)
    idx = BlockIndex.load(many, max_groups=max_groups)
    assert sorted(idx.headers) == ["g", "k", "s"]
    if over:
        assert idx.blocks is None
        assert max(sizes) <= max_groups + 5
    else:
        assert idx.n_groups == 10
        assert idx.keep([[("k", "=", 5)]]) == {(0, 1)}
    # headers only: one collect under the row budget, the grouped read of
    # one row per (column, codec) over it
    for budget, collects in ((4096, [30]), (7, [10, 3])):
        monkeypatch.setattr(blockindex, "_HEADER_ROWS", budget)
        sizes.clear()
        heads = BlockIndex.load(many, max_groups=max_groups, stats=False)
        assert heads.headers == idx.headers and heads.refs == idx.refs
        assert heads.codecs == idx.codecs and sizes == collects
    many.unpersist()


def test_cap_counts_groups_not_rows(spark, small):
    # one partition, three columns: 30 metadata rows in 10 groups, so a
    # cap of 4..9 groups is over and 10 or more is under
    _, blocks = small
    assert blocks.rdd.getNumPartitions() == 1
    for max_groups in (4, 9):
        assert BlockIndex.load(blocks, max_groups).keep(
            [[("k", "=", 5)]]) is None
    for max_groups in (10, 12, 29):
        assert BlockIndex.load(blocks, max_groups).keep(
            [[("k", "=", 5)]]) == {(0, 1)}
    got = count_where_pushdown(blocks, "k", ">=", 13, max_groups=12)
    assert (got["count"], got["groups_decoded"]) == (27, 1)
