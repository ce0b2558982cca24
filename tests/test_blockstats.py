"""Metadata-only exact stats (codec/inspect.column_stats_pushdown):
count/min/max answered from block zone stats without reading payloads."""

import datetime

import pytest
from pyspark.sql import functions as F

from nail_parquet_spark.codec.encode import encode_table
from nail_parquet_spark.codec.inspect import column_stats_pushdown


@pytest.fixture(scope="module")
def typed_blocks(spark):
    df = spark.range(1000).select(
        F.col("id").alias("k"),
        (F.col("id") * 1.5 - 3.0).alias("x"),
        F.when(F.col("id") % 5 != 0, F.col("id") % 7).alias("with_nulls"),
        F.concat(F.lit("s"), F.format_string("%04d", F.col("id"))).alias("s"),
        (F.col("id") % 2 == 0).alias("b"),
        (F.to_timestamp(F.lit("2024-01-01 00:00:00"))
         + F.make_interval(secs=F.col("id"))).alias("ts"),
    )
    return df, encode_table(df).cache()


def test_exact_typed_stats(spark, typed_blocks):
    df, blocks = typed_blocks
    got = column_stats_pushdown(blocks)
    truth = df.agg(
        F.count("with_nulls"), F.min("k"), F.max("k"), F.min("x"), F.max("x"),
        F.min("s"), F.max("s"), F.min("b"), F.max("b"),
        F.min("ts"), F.max("ts"),
    ).collect()[0]
    assert got["with_nulls"]["count"] == truth[0]
    assert got["with_nulls"]["null_count"] == 1000 - truth[0]
    assert (got["k"]["min"], got["k"]["max"]) == (truth[1], truth[2])
    assert (got["x"]["min"], got["x"]["max"]) == (truth[3], truth[4])
    assert (got["s"]["min"], got["s"]["max"]) == (truth[5], truth[6])
    assert (got["b"]["min"], got["b"]["max"]) == (truth[7], truth[8])
    assert got["ts"]["min"] == truth[9] and got["ts"]["max"] == truth[10]
    assert got["k"]["count"] == 1000 and got["k"]["null_count"] == 0


def test_payload_never_scanned(spark, typed_blocks, tmp_path):
    # the exactness claim must hold on the PRODUCTION layout: write the
    # blocks to parquet and assert the agg's ReadSchema excludes payload
    _, blocks = typed_blocks
    p = str(tmp_path / "blocks")
    blocks.write.parquet(p)
    disk = spark.read.parquet(p)
    agg = disk.agg(
        F.min(F.when(F.col("column") == "k", F.col("min_val")).try_cast("bigint")),
        F.sum(F.when(F.col("column") == "k", F.col("n_rows"))),
    )
    from nail_parquet_spark.plans.explain import plan_text

    txt = plan_text(agg)
    read_schema = [ln for ln in txt.splitlines() if "ReadSchema" in ln]
    assert read_schema and all("payload" not in ln for ln in read_schema)
    got = column_stats_pushdown(disk, ["k"])
    assert got["k"] == {"count": 1000, "null_count": 0, "min": 0, "max": 999}


def test_column_subset_and_unknown(typed_blocks):
    _, blocks = typed_blocks
    got = column_stats_pushdown(blocks, ["k", "s"])
    assert set(got) == {"k", "s"}
    with pytest.raises(ValueError, match="not in the blocks table"):
        column_stats_pushdown(blocks, ["nope"])


def test_string_render_cap_raises(spark):
    df = spark.range(10).select(
        F.concat(F.lit("x" * 70), F.col("id").cast("string")).alias("long_s"))
    blocks = encode_table(df)
    with pytest.raises(ValueError, match="64-char render cap"):
        column_stats_pushdown(blocks)


def test_statless_kinds_raise(spark):
    df = spark.range(10).select(
        F.col("id").cast("string").cast("binary").alias("raw"),
        F.array(F.col("id").cast("float")).alias("vec"),
    )
    blocks = encode_table(df).cache()
    for c in ("raw", "vec"):
        with pytest.raises(ValueError, match="no zone stats"):
            column_stats_pushdown(blocks, [c])


def test_all_null_column(spark):
    df = spark.range(10).select(
        F.col("id").alias("k"), F.lit(None).cast("double").alias("empty"))
    got = column_stats_pushdown(encode_table(df))
    assert got["empty"] == {"count": 0, "null_count": 10,
                            "min": None, "max": None}


def test_nan_exact_under_spark_ordering(spark):
    # arrow min_max skips NaN but Spark/DuckDB order NaN largest; encode
    # stamps max='nan' on NaN-bearing float blocks so the pushdown answer
    # equals the engine answer exactly
    import math

    df = spark.range(10).select(
        F.when(F.col("id") == 3, F.lit(float("nan")))
         .otherwise(F.col("id") * 1.0).alias("x"))
    got = column_stats_pushdown(encode_table(df))
    truth = df.agg(F.min("x"), F.max("x")).collect()[0]
    assert got["x"]["min"] == truth[0] == 0.0
    assert math.isnan(got["x"]["max"]) and math.isnan(truth[1])

    all_nan = spark.range(4).select(F.lit(float("nan")).alias("x"))
    got2 = column_stats_pushdown(encode_table(all_nan))
    assert math.isnan(got2["x"]["min"]) and math.isnan(got2["x"]["max"])


def test_date_column(spark):
    # also pins the codec auto-selector on date32 (its stats pass used an
    # unsupported arrow cast before — dates only worked with pinned codecs)
    from nail_parquet_spark.codec.decode import decode_table

    df = spark.range(100).select(
        F.col("id").alias("k"),
        F.date_add(F.lit(datetime.date(2020, 1, 1)),
                   F.col("id").cast("int")).alias("d"))
    blocks = encode_table(df).cache()
    got = column_stats_pushdown(blocks)
    assert got["d"]["min"] == datetime.date(2020, 1, 1)
    assert got["d"]["max"] == datetime.date(2020, 4, 9)
    back = decode_table(blocks, columns=["k", "d"])
    assert back.schema["d"].dataType.simpleString() == "date"
    assert df.exceptAll(back).count() == 0 and back.count() == 100


class TestSumPushdown:
    def test_int_and_float_sums_with_nulls(self, spark, typed_blocks):
        df, blocks = typed_blocks
        got = column_stats_pushdown(blocks, ["k", "x", "with_nulls"],
                                    with_sum=True)
        truth = df.agg(F.sum("k"), F.sum("x"), F.sum("with_nulls"),
                       F.avg("with_nulls")).collect()[0]
        assert got["k"]["sum"] == truth[0]
        assert got["k"]["avg"] == truth[0] / 1000
        assert abs(got["x"]["sum"] - truth[1]) < 1e-6  # order-defined FP
        assert got["with_nulls"]["sum"] == truth[2]
        assert abs(got["with_nulls"]["avg"] - truth[3]) < 1e-12

    def test_int_sum_is_exact_beyond_wraparound(self, spark):
        # values near int64 max: per-block hi/lo split sums must not wrap
        big = (1 << 62) + 12345
        df = spark.createDataFrame([(big,)] * 8 + [(-3,)] * 2, "v long")
        blocks = encode_table(df, codecs={"v": "plain"}, block_rows=4)
        got = column_stats_pushdown(blocks, ["v"], with_sum=True)
        assert got["v"]["sum"] == big * 8 - 6  # > int64 max, exact anyway

    def test_all_null_column_sum_is_none(self, spark):
        df = spark.createDataFrame([(None,)] * 30, "v double")
        blocks = encode_table(df, codecs={"v": "plain"}, block_rows=8)
        got = column_stats_pushdown(blocks, ["v"], with_sum=True)
        assert got["v"]["sum"] is None and got["v"]["avg"] is None

    def test_non_numeric_with_sum_raises(self, spark, typed_blocks):
        _, blocks = typed_blocks
        with pytest.raises(ValueError, match="not int/float"):
            column_stats_pushdown(blocks, ["s"], with_sum=True)
        with pytest.raises(ValueError, match="not int/float"):
            column_stats_pushdown(blocks, ["b"], with_sum=True)

    def test_pre_stat_blocks_raise(self, spark, typed_blocks):
        # simulate blocks encoded before the sum stat existed by stripping
        # zsum out of the header json
        _, blocks = typed_blocks
        legacy = blocks.withColumn(
            "header",
            F.regexp_replace("header", r',"zsum":"[^"]*"', ""))
        with pytest.raises(ValueError, match="without a stored sum"):
            column_stats_pushdown(legacy, ["k"], with_sum=True)
        # min/max pushdown unaffected by the missing sum stat
        got = column_stats_pushdown(legacy, ["k"])
        assert got["k"]["min"] == 0 and got["k"]["max"] == 999

    def test_sum_stat_does_not_break_decode_roundtrip(self, spark):
        from nail_parquet_spark.codec.decode import decode_table

        df = spark.createDataFrame(
            [(i, float(i) / 3, f"s{i}") for i in range(500)],
            "k long, x double, s string")
        blocks = encode_table(df, block_rows=128)
        back = decode_table(blocks).select("k", "x", "s")
        assert back.exceptAll(df).count() == 0
        assert df.exceptAll(back).count() == 0


class TestCountWherePushdown:
    def _check(self, spark, df, blocks, col, op, value, max_decoded=None):
        from nail_parquet_spark.codec.decode import _pred_expr
        from nail_parquet_spark.codec.inspect import count_where_pushdown

        got = count_where_pushdown(blocks, col, op, value)
        want = df.filter(_pred_expr(col, op, value)).count()
        assert got["count"] == want, (col, op, value, got)
        assert got["groups_metadata"] + got["groups_decoded"] \
            == got["groups_total"]
        if max_decoded is not None:
            assert got["groups_decoded"] <= max_decoded, got
        return got

    def test_sorted_range_count_decodes_only_boundaries(self, spark):
        df = (spark.range(10_000).select(F.col("id").alias("k"))
              .coalesce(1).sortWithinPartitions("k"))
        blocks = encode_table(df, codecs={"k": "for_bitpack"},
                              block_rows=1000).cache()
        # >= lands inside one block: exactly one boundary decode
        got = self._check(spark, df, blocks, "k", ">=", 4321, max_decoded=1)
        assert got["groups_total"] == 10
        self._check(spark, df, blocks, "k", "<", 2500, max_decoded=1)
        self._check(spark, df, blocks, "k", "=", 7777, max_decoded=1)
        # block-aligned bound: zero decodes, pure metadata
        got = self._check(spark, df, blocks, "k", ">=", 5000, max_decoded=0)
        assert got["groups_decoded"] == 0
        # a fractional literal compares as double, as in the filter: the
        # block starting at 5000 is a boundary, neither full nor empty
        self._check(spark, df, blocks, "k", ">=", 5000.5, max_decoded=1)
        self._check(spark, df, blocks, "k", "<", 5000.5, max_decoded=1)

    def test_all_ops_match_ground_truth_unsorted(self, spark):
        import random

        rnd = random.Random(7)
        rows = [(rnd.randint(0, 50) if rnd.random() > 0.1 else None,
                 rnd.choice(["alpha", "beta", "gamma", None]))
                for _ in range(3000)]
        df = spark.createDataFrame(rows, "k long, s string").repartition(4)
        blocks = encode_table(df, block_rows=256).cache()
        for op, val in [("=", 25), ("!=", 25), (">", 40), (">=", 40),
                        ("<", 5), ("<=", 5), ("in", [1, 2, 3]),
                        ("isnull", None), ("notnull", None)]:
            self._check(spark, df, blocks, "k", op, val)
        for op, val in [("=", "beta"), ("!=", "beta"),
                        ("prefix", "ga"), ("<", "b"),
                        ("in", ["alpha", "zeta"]), ("isnull", None)]:
            self._check(spark, df, blocks, "s", op, val)

    def test_constant_blocks_answer_equality_from_metadata(self, spark):
        df = spark.createDataFrame(
            [("en",)] * 512 + [("fr",)] * 256, "lang string").coalesce(1)
        blocks = encode_table(df, codecs={"lang": "dict"},
                              block_rows=256).cache()
        got = self._check(spark, df, blocks, "lang", "=", "en",
                          max_decoded=0)
        assert got["count"] == 512 and got["groups_decoded"] == 0
        self._check(spark, df, blocks, "lang", "!=", "en", max_decoded=0)
        self._check(spark, df, blocks, "lang", "in", ["en"], max_decoded=0)

    def test_prefix_full_containment(self, spark):
        df = spark.createDataFrame(
            sorted([(f"https://a.example/{i:04d}",) for i in range(600)]
                   + [(f"https://b.example/{i:04d}",) for i in range(600)]),
            "url string").coalesce(1).sortWithinPartitions("url")
        blocks = encode_table(df, codecs={"url": "fc"},
                              block_rows=200).cache()
        got = self._check(spark, df, blocks, "url", "prefix",
                          "https://a.example/", max_decoded=0)
        assert got["count"] == 600

    def test_all_null_and_empty_in(self, spark):
        from nail_parquet_spark.codec.inspect import count_where_pushdown

        df = spark.createDataFrame([(None,)] * 100, "k long")
        blocks = encode_table(df, codecs={"k": "plain"}, block_rows=32)
        assert count_where_pushdown(blocks, "k", "=", 5)["count"] == 0
        assert count_where_pushdown(blocks, "k", "isnull")["count"] == 100
        assert count_where_pushdown(blocks, "k", "in", [])["count"] == 0

    def test_binary_column_raises(self, spark):
        from nail_parquet_spark.codec.inspect import count_where_pushdown

        df = spark.createDataFrame([(b"ab",)] * 10, "b binary")
        blocks = encode_table(df, codecs={"b": "plain"}, block_rows=4)
        with pytest.raises(ValueError, match="no zone stats"):
            count_where_pushdown(blocks, "b", "=", b"ab")


def test_pushdown_metadata_paths_never_read_payload(spark, tmp_path):
    """The metadata-deciding stages of the round-5 pushdowns must prune
    `payload` out of the parquet scan on the PRODUCTION layout: the sum
    merge reads header (metadata) but never payload; count_where's
    zero-boundary case plans no payload read at all."""
    from nail_parquet_spark.codec.inspect import count_where_pushdown
    from nail_parquet_spark.plans.explain import plan_text

    df = (spark.range(4000).select(F.col("id").alias("k"))
          .coalesce(1).sortWithinPartitions("k"))
    p = str(tmp_path / "blocks")
    encode_table(df, codecs={"k": "for_bitpack"},
                 block_rows=500).write.parquet(p)
    disk = spark.read.parquet(p)

    # sum pushdown: one agg over metadata + header only
    zs = F.get_json_object(F.col("header"), "$.zsum")
    agg = disk.agg(F.sum(F.when(F.col("column") == "k", zs)
                         .try_cast("decimal(38,0)")))
    lines = [ln for ln in plan_text(agg).splitlines() if "ReadSchema" in ln]
    assert lines and all("payload" not in ln for ln in lines)
    got = column_stats_pushdown(disk, ["k"], with_sum=True)
    assert got["k"]["sum"] == 4000 * 3999 // 2

    # count_where on a block-aligned bound: zero boundary decodes — the
    # answer comes from the metadata scan alone
    r = count_where_pushdown(disk, "k", ">=", 2000)
    assert r == {"count": 2000, "groups_total": 8,
                 "groups_metadata": 8, "groups_decoded": 0}
