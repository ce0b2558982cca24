"""Zone-map block pruning (prune_blocks / decode_table_where)."""

import pytest
from pyspark.sql import functions as F

from nail_parquet_spark.codec.decode import (
    decode_table,
    decode_table_where,
    prune_blocks,
)
from nail_parquet_spark.codec.encode import encode_table


@pytest.fixture(scope="module")
def sorted_blocks(spark):
    # one partition, sorted ids, 10-row blocks -> 10 disjoint zone ranges
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


def test_prune_reduces_groups_and_stays_exact(spark, sorted_blocks):
    df, blocks = sorted_blocks
    assert n_groups(blocks) == 10
    for op, v, want in [(">=", 70, 30), ("<", 25, 25), ("=", 55, 1),
                        (">", 99, 0), ("<=", 0, 1)]:
        pruned = prune_blocks(blocks, "k", op, v)
        assert n_groups(pruned) <= n_groups(blocks)
        got = decode_table_where(blocks, "k", op, v).count()
        assert got == want, (op, v)
    # selective predicate prunes hard: k = 55 needs exactly one group
    assert n_groups(prune_blocks(blocks, "k", "=", 55)) == 1
    assert n_groups(prune_blocks(blocks, "k", ">=", 70)) == 3


def test_prune_matches_unpruned_decode(spark, sorted_blocks):
    df, blocks = sorted_blocks
    want = sorted(
        r.k for r in decode_table(blocks).filter(F.col("k") >= 37).collect()
    )
    got_rows = decode_table_where(blocks, "k", ">=", 37).collect()
    assert sorted(r.k for r in got_rows) == want
    # string column comes along decoded correctly
    assert {r.s for r in got_rows} == {f"v{i:03d}" for i in range(37, 100)}


def test_prune_string_column(spark, sorted_blocks):
    df, blocks = sorted_blocks
    pruned = prune_blocks(blocks, "s", ">=", "v095")
    assert n_groups(pruned) == 1
    assert decode_table_where(blocks, "s", ">=", "v095").count() == 5


def test_prune_long_string_truncation_is_safe(spark):
    # 70-char strings sharing a 64-char prefix: max_val is truncated, so a
    # predicate above the truncated max must NOT prune the group
    base = "x" * 64
    df = spark.createDataFrame(
        [(i, base + f"{i:06d}") for i in range(20)], "k long, s string"
    ).repartition(1).sortWithinPartitions("k")
    blocks = encode_table(df, codecs={"k": "plain", "s": "zstd"}, block_rows=20)
    out = decode_table_where(blocks, "s", ">=", base + "000015")
    assert out.count() == 5


def test_prune_all_null_blocks(spark):
    df = spark.createDataFrame(
        [(i, None if i < 10 else float(i)) for i in range(20)],
        "k long, x double",
    ).repartition(1).sortWithinPartitions("k")
    blocks = encode_table(df, codecs={"k": "plain", "x": "plain"}, block_rows=10)
    # first block is all-NULL in x -> pruned for any comparison
    pruned = prune_blocks(blocks, "x", ">=", 0.0)
    assert n_groups(pruned) == 1
    assert decode_table_where(blocks, "x", ">=", 15.0).count() == 5


def test_prune_projection_excluding_filter_column(spark, sorted_blocks):
    df, blocks = sorted_blocks
    out = decode_table_where(blocks, "k", ">=", 90, columns=["s"])
    assert out.columns == ["s"]
    assert out.count() == 10


def test_decode_where_timestamps(spark):
    df = (
        spark.range(40)
        .select(
            F.col("id").alias("k"),
            (F.lit("2024-01-01 00:00:00").cast("timestamp")
             + F.make_interval(hours=F.col("id").cast("int"))).alias("ts"),
        )
        .repartition(1)
        .sortWithinPartitions("k")
    )
    blocks = encode_table(df, codecs={"k": "plain", "ts": "delta_bitpack"},
                          block_rows=10)
    cut = "2024-01-02 06:00:00"
    pruned = prune_blocks(blocks, "ts", ">=", cut)
    assert n_groups(pruned) <= 2
    got = decode_table_where(blocks, "ts", ">=", cut).count()
    assert got == 10  # hours 30..39


import datetime as _dt

from hypothesis import HealthCheck, example, given, settings, strategies as st


def _long_str(x: int) -> str:
    # order follows x; odd values run past the 64-char stats render cap,
    # so their zone stats are truncated prefixes
    return f"{x + 50:03d}" + ("z" * 70 if x % 2 else "")


_SPECIAL_FLOATS = {50: float("nan"), 49: float("inf"), -50: float("-inf")}
_T0 = _dt.datetime(2024, 1, 1)
# column type per variant; ts and date columns cast their ISO strings in
# Spark, so data and literals share the session time zone
_VARIANT_TYPES = {"int": "long", "big": "long", "str": "string",
                  "float": "double", "ts": "timestamp", "date": "date"}


def _variant_value(variant: str, x: int, half: bool = False, lit: bool = False):
    """Draw ``x`` as a column value (or, with ``lit``, as a literal)."""
    if variant == "int":
        return x + 0.5 if lit and half else x
    if variant == "big":
        # 2^53 + x: a float literal rounds to the even neighbour, and the
        # column compares with it as a double
        return float(2 ** 53 + x) if lit else 2 ** 53 + x
    if variant == "str":
        return _long_str(x)
    if variant == "float":
        return _SPECIAL_FLOATS.get(x, x / 4)
    if variant == "ts":
        t = _T0 + _dt.timedelta(hours=x, minutes=30 if lit and half else 0)
        return t.isoformat(" ")
    if lit and half:
        return "20240101"  # Spark refuses it as a date: must decide nothing
    return (_T0.date() + _dt.timedelta(days=x)).isoformat()


@settings(max_examples=6, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture,
                                 HealthCheck.too_slow])
@given(
    vals=st.lists(st.one_of(st.none(), st.integers(-50, 50)),
                  min_size=1, max_size=60),
    op=st.sampled_from(["=", "!=", ">", ">=", "<", "<=", "in"]),
    v=st.integers(-55, 55),
    in_vals=st.lists(st.integers(-55, 55), max_size=4),
    block_rows=st.sampled_from([4, 16]),
    presorted=st.booleans(),
    variant=st.sampled_from(sorted(_VARIANT_TYPES)),
    half=st.booleans(),
)
@example(vals=[50, 49, -50, 1, None, 3, 50], op=">", v=49, in_vals=[],
         block_rows=4, presorted=True, variant="float", half=False)
@example(vals=[50, -50, 2, 50, None], op="=", v=50, in_vals=[],
         block_rows=4, presorted=False, variant="float", half=False)
@example(vals=[1, 1, 1, 1, 0, 0, 0, 0], op="=", v=0, in_vals=[],
         block_rows=4, presorted=True, variant="big", half=False)
@example(vals=list(range(-20, 20)), op=">=", v=5, in_vals=[], block_rows=4,
         presorted=True, variant="ts", half=True)
@example(vals=list(range(-20, 20)), op="<", v=3, in_vals=[], block_rows=4,
         presorted=True, variant="date", half=False)
@example(vals=[None, 3, 5, 1], op=">=", v=0, in_vals=[], block_rows=4,
         presorted=False, variant="date", half=True)
@example(vals=[None, None], op="<", v=0, in_vals=[], block_rows=4,
         presorted=False, variant="date", half=True)
def test_prune_property_matches_plain_filter(spark, vals, op, v, in_vals,
                                             block_rows, presorted, variant,
                                             half):
    from pyspark.errors import PySparkException

    from nail_parquet_spark.codec.decode import _pred_expr
    from nail_parquet_spark.codec.inspect import count_where_pushdown

    rows = [(i, None if x is None else _variant_value(variant, x))
            for i, x in enumerate(vals)]
    if presorted:
        rows.sort(key=lambda r: (r[1] is None, vals[r[0]]))
    value = ([_variant_value(variant, x, lit=True) for x in in_vals]
             if op == "in" else _variant_value(variant, v, half, lit=True))
    src_type = "string" if variant in ("ts", "date") else _VARIANT_TYPES[variant]
    df = (spark.createDataFrame(rows, f"k long, x {src_type}")
          .withColumn("x", F.col("x").cast(_VARIANT_TYPES[variant]))
          .coalesce(1))
    blocks = encode_table(df, codecs={"k": "plain", "x": "plain"},
                          block_rows=block_rows)

    def outcome(f):
        # a literal Spark refuses must raise here exactly when it does there
        try:
            return f()
        except PySparkException:
            return "raises"

    want = outcome(lambda: sorted(
        r.k for r in df.filter(_pred_expr("x", op, value)).collect()))
    got = outcome(lambda: sorted(
        r.k for r in decode_table_where(blocks, "x", op, value).collect()))
    assert got == want
    n = outcome(lambda: count_where_pushdown(blocks, "x", op, value)["count"])
    assert n == (want if want == "raises" else len(want))


def test_decode_where_all_conjunction(spark, sorted_blocks):
    from nail_parquet_spark.codec.decode import decode_table_where_all

    df, blocks = sorted_blocks
    preds = [("k", ">=", 30), ("k", "<", 60), ("s", ">=", "v045")]
    got = decode_table_where_all(blocks, preds).orderBy("k").collect()
    want = (
        decode_table(blocks)
        .filter((F.col("k") >= 30) & (F.col("k") < 60) & (F.col("s") >= "v045"))
        .orderBy("k")
        .collect()
    )
    assert got == want and len(got) == 15
    # each conjunct prunes independently: the band [30, 60) keeps 3 groups
    band = prune_blocks(prune_blocks(blocks, "k", ">=", 30), "k", "<", 60)
    assert n_groups(band) == 3
    # contradiction -> empty result, correct schema, no decode crash
    empty = decode_table_where_all(blocks, [("k", ">", 50), ("k", "<", 10)])
    assert empty.count() == 0 and set(empty.columns) == {"k", "s"}
    with pytest.raises(ValueError, match="non-empty"):
        decode_table_where_all(blocks, [])


def test_cli_decode_where_multiple(spark, tmp_path, capsys):
    from nail_parquet_spark.cli import main

    src = (
        spark.range(50)
        .select(F.col("id").cast("long").alias("k"),
                (F.col("id") % 5).cast("long").alias("m"))
        .repartition(1).sortWithinPartitions("k")
    )
    enc = str(tmp_path / "enc")
    encode_table(src, codecs={"k": "for_bitpack", "m": "for_bitpack"},
                 block_rows=10).write.parquet(enc)
    out = str(tmp_path / "dec")
    assert main(["decode", enc, "-o", out, "--where", "k>=20",
                 "--where", "m<2"]) == 0
    got = {(r["k"], r["m"]) for r in spark.read.parquet(out).collect()}
    want = {(i, i % 5) for i in range(20, 50) if i % 5 < 2}
    assert got == want


def test_prefix_prune_and_exact(spark, sorted_blocks):
    df, blocks = sorted_blocks
    # s values are v000..v099, sorted: prefix 'v04' lives in exactly one
    # 10-row block's zone range
    pruned = prune_blocks(blocks, "s", "prefix", "v04")
    assert 1 <= n_groups(pruned) <= 2  # block boundary may straddle
    out = decode_table_where(blocks, "s", "prefix", "v04")
    got = sorted(r["s"] for r in out.collect())
    assert got == [f"v04{i}" for i in range(10)]
    # no-match prefix prunes everything but stays schema-correct
    assert decode_table_where(blocks, "s", "prefix", "zzz").count() == 0
    # prefix shorter than every value / equal to min boundary
    assert decode_table_where(blocks, "s", "prefix", "v").count() == 100
    with pytest.raises(ValueError, match="string"):
        prune_blocks(blocks, "k", "prefix", "1")


def test_prefix_prune_truncated_min_is_safe(spark):
    # 70-char strings: min_val truncates at 64 chars; pruning must keep the
    # group whenever a match is possible
    base = "x" * 62
    df = spark.createDataFrame(
        [(1, base + "apple"), (2, base + "banana"), (3, "zz")], "k long, s string"
    ).repartition(1)
    blocks = encode_table(df, codecs={"k": "plain", "s": "zstd"}, block_rows=10)
    out = decode_table_where(blocks, "s", "prefix", base + "ban")
    assert [r["s"] for r in out.collect()] == [base + "banana"]


def test_cli_decode_where_prefix(spark, tmp_path, capsys):
    from nail_parquet_spark.cli import main as cli_main

    src = str(tmp_path / "t.parquet")
    spark.range(50).selectExpr(
        "id AS k", "concat('h', cast(id % 5 AS string), '/p', cast(id AS string)) AS s"
    ).write.parquet(src)
    blocks_dir = str(tmp_path / "blocks")
    assert cli_main(["optimize", src, "-o", blocks_dir, "--sort-by", "s"]) == 0
    out = str(tmp_path / "dec")
    assert cli_main(["decode", blocks_dir, "-o", out, "--where", "s^=h3/"]) == 0
    capsys.readouterr()
    got = spark.read.parquet(out)
    assert got.count() == 10
    assert all(r["s"].startswith("h3/") for r in got.collect())


def test_in_prune_and_exact(spark, sorted_blocks):
    df, blocks = sorted_blocks
    # three values in two distinct 10-row zone ranges -> 2 groups survive
    pruned = prune_blocks(blocks, "k", "in", [3, 7, 55])
    assert n_groups(pruned) == 2
    out = decode_table_where(blocks, "k", "in", [3, 7, 55]).orderBy("k")
    assert [r["k"] for r in out.collect()] == [3, 7, 55]
    # string IN-list prunes by the string zone maps
    pruned_s = prune_blocks(blocks, "s", "in", ["v012", "v013"])
    assert n_groups(pruned_s) == 1
    # empty IN-list: everything pruned, schema-correct empty result
    assert n_groups(prune_blocks(blocks, "k", "in", [])) == 0
    empty = decode_table_where(blocks, "k", "in", [])
    assert empty.count() == 0 and set(empty.columns) == {"k", "s"}
    # oversized list skips pruning but stays exact
    big = list(range(200))
    assert n_groups(prune_blocks(blocks, "k", "in", big)) == 10
    assert decode_table_where(blocks, "k", "in", big).count() == 100


def test_in_prune_bloom(spark):
    from nail_parquet_spark.codec.decode import prune_blocks_bloom

    # constant zone ranges per block on a high-cardinality id: min/max can't
    # prune an IN probe, the bloom OR-probe can
    df = (
        spark.range(400)
        .selectExpr("cast(id AS long) AS k",
                    "concat('id', cast(id AS string)) AS u")
        .repartition(1).sortWithinPartitions("k")
    )
    blocks = encode_table(df, codecs={"k": "plain", "u": "zstd"},
                          block_rows=100, bloom_columns=["u"]).cache()
    pruned = prune_blocks_bloom(blocks, "u", ["id5", "id250"], op="in")
    assert n_groups(pruned) <= 2
    out = decode_table_where(blocks, "u", "in", ["id5", "id250"])
    assert sorted(r["u"] for r in out.collect()) == ["id250", "id5"]


def test_neq_prune_and_exact(spark):
    # lang-style low-cardinality runs: value-constant blocks prune under !=
    df = spark.createDataFrame(
        [(i, "en" if i < 20 else ("de" if i < 30 else None))
         for i in range(40)],
        "k long, lang string",
    ).repartition(1).sortWithinPartitions("k")
    blocks = encode_table(df, codecs={"k": "plain", "lang": "rle"},
                          block_rows=10).cache()
    # blocks: [en]*2, [de], [null] -> != 'en' keeps only the de block
    pruned = prune_blocks(blocks, "lang", "!=", "en")
    assert n_groups(pruned) == 1
    got = decode_table_where(blocks, "lang", "!=", "en").orderBy("k").collect()
    assert [r["lang"] for r in got] == ["de"] * 10  # SQL !=: nulls excluded
    # != a value present in a mixed block keeps the block, filters residually
    assert decode_table_where(blocks, "k", "!=", 5).count() == 39


def test_neq_truncated_min_never_prunes(spark):
    # 70-char constant strings: min/max both truncate at 64 chars, so the
    # block is NOT provably constant -> != must keep it (residual decides)
    v = "y" * 70
    df = spark.createDataFrame([(i, v) for i in range(10)], "k long, s string")
    blocks = encode_table(df.repartition(1), codecs={"k": "plain", "s": "zstd"},
                          block_rows=10)
    assert n_groups(prune_blocks(blocks, "s", "!=", v)) == 1
    assert decode_table_where(blocks, "s", "!=", v).count() == 0


def test_null_predicate_prune(spark):
    df = spark.createDataFrame(
        [(i, None if i < 10 else float(i)) for i in range(30)],
        "k long, x double",
    ).repartition(1).sortWithinPartitions("k")
    blocks = encode_table(df, codecs={"k": "plain", "x": "plain"},
                          block_rows=10).cache()
    # blocks in x: [null]*1, [value]*2
    assert n_groups(prune_blocks(blocks, "x", "isnull", None)) == 1
    assert n_groups(prune_blocks(blocks, "x", "notnull", None)) == 2
    assert decode_table_where(blocks, "x", "isnull", None).count() == 10
    got = decode_table_where(blocks, "x", "notnull", None)
    assert got.count() == 20
    # conjunction mixing null and range predicates
    from nail_parquet_spark.codec.decode import decode_table_where_all
    both = decode_table_where_all(
        blocks, [("x", "notnull", None), ("k", ">=", 25)])
    assert sorted(r["k"] for r in both.collect()) == list(range(25, 30))


def test_cli_where_grammar_extensions(spark, tmp_path):
    from nail_parquet_spark.cli import _parse_where, main as cli_main

    assert _parse_where("lang@=en,de,fr") == ("lang", "in", ["en", "de", "fr"])
    assert _parse_where("k@=1, 2 ,3") == ("k", "in", [1, 2, 3])
    assert _parse_where("k!=5") == ("k", "!=", 5)
    assert _parse_where("x IS NULL") == ("x", "isnull", None)
    assert _parse_where("x is not null") == ("x", "notnull", None)
    src = (
        spark.range(30)
        .selectExpr("cast(id AS long) AS k",
                    "CASE WHEN id % 3 = 0 THEN NULL "
                    "ELSE cast(id % 5 AS string) END AS m")
        .repartition(1).sortWithinPartitions("k")
    )
    enc = str(tmp_path / "enc")
    encode_table(src, block_rows=10).write.parquet(enc)
    out = str(tmp_path / "dec")
    assert cli_main(["decode", enc, "-o", out, "--where", "m@=1,2",
                     "--where", "k!=11"]) == 0
    got = {(r["k"], r["m"]) for r in spark.read.parquet(out).collect()}
    want = {(i, str(i % 5)) for i in range(30)
            if i % 3 != 0 and i % 5 in (1, 2) and i != 11}
    assert got == want
    out2 = str(tmp_path / "dec2")
    assert cli_main(["decode", enc, "-o", out2, "--where", "m is null"]) == 0
    assert spark.read.parquet(out2).count() == 10


def test_decode_where_or_clause(spark, sorted_blocks):
    from nail_parquet_spark.codec.decode import decode_table_where_all

    df, blocks = sorted_blocks
    # cross-column OR-clause ANDed with a range conjunct
    preds = [[("k", "<", 10), ("s", ">=", "v090")], ("k", "!=", 5)]
    got = decode_table_where_all(blocks, preds).orderBy("k").collect()
    want = (
        decode_table(blocks)
        .filter(((F.col("k") < 10) | (F.col("s") >= "v090"))
                & (F.col("k") != 5))
        .orderBy("k")
        .collect()
    )
    assert got == want and len(got) == 19
    # the OR-clause's keep-set is the UNION of the disjuncts' groups:
    # k<10 keeps group 0, s>='v090' keeps group 9 -> exactly 2 groups
    from nail_parquet_spark.codec.blockindex import BlockIndex

    kept = BlockIndex.load(blocks).keep(
        [[("k", "<", 10), ("s", ">=", "v090")]])
    assert len(kept) == 2
    # an OR-clause with a contradiction on both sides -> empty, schema kept
    empty = decode_table_where_all(
        blocks, [[("k", ">", 200), ("k", "<", -1)]])
    assert empty.count() == 0 and set(empty.columns) == {"k", "s"}


def test_cli_decode_where_or(spark, tmp_path):
    from nail_parquet_spark.cli import _parse_where_clause, main as cli_main

    assert _parse_where_clause("k>=20") == ("k", ">=", 20)
    assert _parse_where_clause("k<3 OR m=4") == [("k", "<", 3), ("m", "=", 4)]
    src = (
        spark.range(50)
        .select(F.col("id").cast("long").alias("k"),
                (F.col("id") % 5).cast("long").alias("m"))
        .repartition(1).sortWithinPartitions("k")
    )
    enc = str(tmp_path / "enc")
    encode_table(src, codecs={"k": "for_bitpack", "m": "for_bitpack"},
                 block_rows=10).write.parquet(enc)
    out = str(tmp_path / "dec")
    assert cli_main(["decode", enc, "-o", out,
                     "--where", "k<5 OR k>=45", "--where", "m!=0"]) == 0
    got = {(r["k"], r["m"]) for r in spark.read.parquet(out).collect()}
    want = {(i, i % 5) for i in range(50) if (i < 5 or i >= 45) and i % 5 != 0}
    assert got == want
