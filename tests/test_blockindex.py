"""The driver-side block index: one metadata read per blocks-table op, and
the over-cap flow of a table with more groups than ``max_groups``."""
import pytest
from pyspark.sql import functions as F

from nail_parquet_spark.codec import blockindex
from nail_parquet_spark.codec.blockindex import BlockIndex
from nail_parquet_spark.codec.decode import (_pred_expr, decode_parquet_dir,
                                             decode_semijoin,
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
    assert BlockIndex.load(blocks).keep([[("k", "=", 5)]]) == {("", 0, 1)}


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
        assert idx.keep([[("k", "=", 5)]]) == {("", 0, 1)}
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
            [[("k", "=", 5)]]) == {("", 0, 1)}
    got = count_where_pushdown(blocks, "k", ">=", 13, max_groups=12)
    assert (got["count"], got["groups_decoded"]) == (27, 1)


_PROBES = [("url", "=", "https://h07.example/p/329"),
           ("url", "==", "https://nowhere.example/p/1"),
           ("url", "in", [f"https://h{i % 40:02d}.example/p/{i * 7}"
                          for i in range(50)]),
           ("url", "prefix", "https://h1"),
           ("url", "prefix", "https://h99.example/p/9900000000000000000000"),
           ("url", "contains", "h21.example/p/21"),
           ("url", "contains", "xample/"),
           ("k", "=", 70), ("k", "in", [1, 2, 599])]


@pytest.fixture(scope="module")
def on_disk(spark, tmp_path_factory):
    """A 600-row source in 3 files of 2 row groups each, and its blocks
    tables (50-row groups) with a plain url bloom and with a url bloom
    carrying prefix and n-gram keys."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from nail_parquet_spark.codec.encode import encode_parquet_dir

    root = tmp_path_factory.mktemp("driver index")
    src = root / "src"
    src.mkdir()
    for f in range(3):
        ids = list(range(f * 200, (f + 1) * 200))
        pq.write_table(pa.table({
            "url": [f"https://h{i % 40:02d}.example/p/{i * 7}" for i in ids],
            "k": pa.array(ids, pa.int64())}),
            str(src / f"p{f}.parquet"), row_group_size=100)
    tables = {}
    for name, spec in (("eq", ["url"]), ("grams", ["url:12:g4"])):
        out = str(root / name)
        encode_parquet_dir(spark, str(src), out, codecs={"url": "zstd",
                                                         "k": "for_bitpack"},
                           block_rows=50, bloom_columns=spec).collect()
        tables[name] = out
    return spark.read.parquet(str(src)), tables


def _fields(idx):
    return (idx.headers, idx.refs, idx.codecs, idx.blocks, idx.n_groups,
            idx.probes)


@pytest.mark.parametrize("table", ["eq", "grams"])
@pytest.mark.parametrize("max_groups, stats", [(100_000, True), (5, True),
                                               (100_000, False)])
def test_driver_index_equals_spark_read(spark, on_disk, count_jobs, table,
                                        max_groups, stats):
    # a bare scan is indexed on the driver; the same frame behind a no-op
    # filter takes the Spark read, and both give the same index, bloom
    # verdicts and source keys included
    _, tables = on_disk
    bare = spark.read.parquet(tables[table])
    probes = _PROBES if stats else ()
    got, jobs = count_jobs(lambda: BlockIndex.load(
        bare, max_groups, probes=probes, stats=stats))
    want, spark_jobs = count_jobs(lambda: BlockIndex.load(
        bare.filter(F.col("n_rows") >= 0), max_groups, probes=probes,
        stats=stats))
    assert _fields(got) == _fields(want)
    if max_groups > 12:
        # one collect; the bloom judge's mapInArrow pass adds no job
        assert spark_jobs == 1
        assert jobs == 0 and got.n_groups == 12
        srcs = {b.key[0] for bs in got.blocks.values() for b in bs}
        assert srcs == set(bare.inputFiles())
    else:
        # 12 groups over a cap of 5: both loads take the Spark read, whose
        # collect fills its budget, then the group count and the grouped read
        assert got.blocks is None and jobs == spark_jobs == 6
    if stats and max_groups > 12:
        assert [op for _, op, _, _ in got.probes] == [op for _, op, _ in _PROBES]
        pruned = [[b.blooms[i] for b in got.blocks["url"]].count(False)
                  for i in range(len(_PROBES))]
        # =, ==, in prune on any url bloom; prefix (12-byte keys) and
        # contains (4-grams) only where the bloom carries their keys
        assert pruned == ([11, 12, 7] + [0] * 6 if table == "eq"
                          else [11, 12, 10, 0, 12, 10, 0, 0, 0])
        assert all(b.blooms == (None,) * 7 + (True,) * 2
                   for b in got.blocks["k"])


def test_malformed_bitmaps_keep_their_block(spark, on_disk, tmp_path,
                                          count_jobs):
    # bitmaps this library never writes, one cut 10 bytes short and one
    # with m_bits 0 in each file, keep their blocks on both reads; every
    # other block is pruned for an absent url
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    _, tables = on_disk
    cuts = (lambda b: b[:-10], lambda b: b[:1] + bytes(4) + b[5:])
    bad = set()
    for name in sorted(os.listdir(tables["eq"])):
        if not name.endswith(".parquet"):
            continue
        t = pq.read_table(os.path.join(tables["eq"], name))
        bitmaps = t.column("bloom").to_pylist()
        urls = [i for i, c in enumerate(t.column("column").to_pylist())
                if c == "url"]
        for i, cut in zip(urls, cuts):
            bitmaps[i] = cut(bitmaps[i])
            bad.add((name, t["part_id"][i].as_py(), t["block_id"][i].as_py()))
        pq.write_table(t.set_column(t.schema.get_field_index("bloom"), "bloom",
                                    pa.array(bitmaps, pa.binary())),
                       str(tmp_path / name))
    bare = spark.read.parquet(str(tmp_path))
    probes = [("url", "=", "https://nowhere.example/p/1"),
              ("url", "in", ["https://nowhere.example/p/2", "nope"])]
    got, jobs = count_jobs(lambda: BlockIndex.load(bare, probes=probes))
    want = BlockIndex.load(bare.filter(F.col("n_rows") >= 0), probes=probes)
    assert jobs == 0 and _fields(got) == _fields(want)
    for i in range(len(probes)):
        kept = {(os.path.basename(b.key[0]), *b.key[1:])
                for b in got.blocks["url"] if b.blooms[i]}
        assert kept == bad and len(bad) >= 4


def test_driver_index_ops_equal_plain_spark(spark, on_disk):
    src, tables = on_disk
    rows = lambda df: sorted(df.select("url", "k").collect())  # noqa: E731
    urls = _PROBES[2][2] + ["https://nowhere"]
    keys = spark.createDataFrame([(u,) for u in urls], "url string")
    bare = spark.read.parquet(tables["grams"])
    for clauses, want in (
            ([("url", "=", "https://h07.example/p/329")],
             F.col("url") == "https://h07.example/p/329"),
            ([("url", "contains", "h21.example/p/21"), ("k", ">=", 100)],
             F.col("url").contains("h21.example/p/21")
             & (F.col("k") >= 100))):
        assert (rows(decode_table_where_all(bare, clauses))
                == rows(src.filter(want)))
    got = count_where_pushdown(bare, "k", ">=", 333)
    assert got["count"] == src.filter(F.col("k") >= 333).count()
    assert (rows(decode_semijoin(bare, keys, "url"))
            == rows(src.join(keys, "url", "left_semi")))


def test_other_frames_take_the_spark_read(spark, on_disk, monkeypatch,
                                          tmp_path, count_jobs):
    # a filtered frame, more files or footer rows than the driver reads,
    # and a footer row count over the budget each take the Spark read,
    # with the same index; decode_parquet_dir follows the same rule
    src, tables = on_disk
    bare = spark.read.parquet(tables["grams"])
    want = BlockIndex.load(bare, probes=_PROBES)
    n_rows = sum(len(bs) for bs in want.blocks.values())
    assert n_rows > want.n_groups == 12
    for frame, max_groups in ((bare.filter(F.col("n_rows") >= 0), 100_000),
                              (bare, want.n_groups)):
        got, jobs = count_jobs(lambda: BlockIndex.load(
            frame, max_groups, probes=_PROBES))
        assert jobs > 0 and _fields(got) == _fields(want)
    rows = lambda df: sorted(df.select("url", "k").collect())  # noqa: E731
    want_rows = rows(src)

    def scan(out):
        _, jobs = count_jobs(lambda: decode_parquet_dir(
            spark, tables["grams"], str(tmp_path / out)).collect())
        assert rows(spark.read.parquet(str(tmp_path / out))) == want_rows
        return jobs

    driver_jobs = scan("driver")
    for name, limit in (("_DRIVER_HEADER_MAX_FILES", len(bare.inputFiles()) - 1),
                        ("_DRIVER_MAX_ROWS", n_rows - 1)):
        with monkeypatch.context() as m:
            m.setattr(blockindex, name, limit)
            got, jobs = count_jobs(lambda: BlockIndex.load(
                bare, probes=_PROBES))
            assert jobs > 0 and _fields(got) == _fields(want), name
            assert scan(name) == driver_jobs + 1, name
