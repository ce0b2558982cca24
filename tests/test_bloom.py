"""Per-block bloom-filter index: build/probe kernels, the numpy judge's
parity with its per-bitmap oracle, encode wiring, and
equality-pushdown pruning + exactness through decode_table_where."""
import numpy as np
import pyarrow as pa
import pytest
from pyspark.sql import functions as F

from nail_parquet_spark.codec.bloom import (
    _NGRAM_PROBE_CAP,
    bloom_build,
    bloom_judge,
    bloom_might_contain,
    bloom_ngram_len_of,
    expected_fpp,
    probe_lanes,
)
from nail_parquet_spark.codec.decode import (
    decode_table_where,
    prune_blocks_bloom,
)
from nail_parquet_spark.codec.encode import encode_parquet_dir, encode_table

rng = np.random.default_rng(5)


def test_bloom_no_false_negatives_and_low_fpp():
    vals = pa.array([f"https://site{i}.com/p/{i * 7}" for i in range(5000)])
    b = bloom_build(vals)
    for v in vals.slice(0, 500).to_pylist():
        assert bloom_might_contain(b, v, "str")
    misses = sum(
        bloom_might_contain(b, f"https://absent{i}.org/x", "str")
        for i in range(2000))
    m_bits = int.from_bytes(b[1:5], "big")
    assert misses / 2000 < max(0.05, 3 * expected_fpp(5000, m_bits))


def test_bloom_int_and_unsupported_kinds():
    ints = pa.array(list(range(1000)), pa.int64())
    b = bloom_build(ints)
    assert bloom_might_contain(b, 7, "int")
    assert not all(bloom_might_contain(b, v, "int") for v in range(2000, 2050))
    assert bloom_build(pa.array([1.5, 2.5])) is None
    # all-null block: empty-domain bloom prunes every probe
    b0 = bloom_build(pa.array([None, None], pa.string()))
    assert not bloom_might_contain(b0, "x", "str")


def _loop_bitmap(arr, k=7, bits_per_key=10, prefix_len=None, ngram_len=None):
    """Oracle: the bitmap bytes of ``bloom_build`` as its per-key,
    per-hash loop over ``bloom_lanes`` computed them."""
    import pyarrow.compute as pc

    from nail_parquet_spark.codec.bloom import (
        _NGRAM_TAG, _PREFIX_TAG, bloom_lanes, canonical_bytes,
    )
    from nail_parquet_spark.codec.kernels import kind_of

    kind = kind_of(arr.type)
    vals = [canonical_bytes(v, kind) for v in pc.unique(arr.drop_null()).to_pylist()]
    keys = list(vals)
    if prefix_len:
        keys.extend({_PREFIX_TAG + b[:prefix_len] for b in vals})
    if ngram_len:
        keys.extend({_NGRAM_TAG + b[i:i + ngram_len]
                     for b in vals for i in range(len(b) - ngram_len + 1)})
    m_bits = max(64, ((bits_per_key * max(len(keys), 1) + 7) // 8) * 8)
    bits = np.zeros(m_bits // 8, dtype=np.uint8)
    for b in keys:
        h1, h2 = bloom_lanes(b)
        for j in range(k):
            pos = (h1 + j * h2) % m_bits
            bits[pos >> 3] |= np.uint8(1 << (pos & 7))
    return bits.tobytes()


_URLS = pa.array([f"https://h{i % 97}.example.com/p/{i * 7919 % 8192}?q={i}"
                  for i in range(8192)] + [None])


@pytest.mark.parametrize("arr, kw", [
    (_URLS, {}),
    (_URLS, {"prefix_len": 20}),
    (_URLS.slice(0, 300), {"ngram_len": 4}),
    (pa.array([int(v) for v in rng.integers(-2**62, 2**62, 5000)] + [None, 0, -1],
              pa.int64()), {}),
    (pa.array([None] * 5, pa.string()), {}),
    (_URLS.slice(0, 500), {"k": 1}),
    (_URLS.slice(0, 500), {"k": 63}),
], ids=["str", "str-prefix", "str-ngram", "int", "all-null", "k1", "k63"])
def test_bloom_build_matches_loop_oracle(arr, kw):
    b = bloom_build(arr, **kw)
    m_bits = int.from_bytes(b[1:5], "big")
    assert b[0] & 0x3F == kw.get("k", 7)
    assert b[5:5 + m_bits // 8] == _loop_bitmap(arr, **kw)


_HOSTS = pa.array([f"host{i:03d}/path/{i}" for i in range(256)])
_STR_BLOOMS = [bloom_build(_HOSTS), bloom_build(_HOSTS, prefix_len=12),
               bloom_build(_HOSTS, prefix_len=3), bloom_build(_HOSTS, ngram_len=4),
               bloom_build(_HOSTS, ngram_len=5),
               bloom_build(_HOSTS, prefix_len=12, ngram_len=4), None,
               bloom_build(_HOSTS, k=1),
               bloom_build(_HOSTS, prefix_len=12, ngram_len=4, k=63)]
_INT_BLOOMS = [bloom_build(pa.array(range(0, 1000, 3), pa.int64())), None,
               bloom_build(pa.array(range(0, 1000, 3), pa.int64()), k=63)]
_PRESENT = [f"host{i:03d}/path/{i}" for i in range(0, 256, 9)]
_ABSENT = [f"nope{i:03d}/path/{i}" for i in range(60)]


@pytest.mark.parametrize("op, kind, queries", [
    ("=", "str", _PRESENT[:10] + _ABSENT[:10]),
    ("=", "int", [3, 4, 999, 1000, 5.0, 6.0]),
    ("in", "str", [_PRESENT[:30] + _ABSENT[:30], _ABSENT, [_PRESENT[5]]]),
    ("in", "int", [list(range(1000, 1060)), list(range(1000, 1059)) + [42]]),
    ("prefix", "str", ["host012/pa", "host0", "ho", "nope012/pa", "host250/path/x",
                       "zz", "host1", "host012/path/12/and/a/long/tail/to/read",
                       "nope012/path/12/and/a/long/tail/to/read"]),
    ("contains", "str", ["012/pa", "th/1", "zzzz", "t07", "ost25", "nope/",
                         "h/250", "host012/path/12", "nope012/path/12x"]),
], ids=["eq-str", "eq-int", "in-str", "in-int", "prefix", "contains"])
def test_bloom_column_probe_matches_python(op, kind, queries):
    # one column of bitmaps with mixed prefix (P) and n-gram (N) key
    # lengths, k = 1 and 63 and NULL, judged in one call per query: a
    # 60-key IN, prefixes and substrings (up to 40 bytes, and more grams
    # than the probe's cap) each read the block's own stored k, P and N.
    # The numpy judge's verdicts equal the per-bitmap oracle's.
    blooms = _STR_BLOOMS if kind == "str" else _INT_BLOOMS
    for q in queries:
        got = bloom_judge(pa.array(blooms, pa.binary()), op,
                          probe_lanes(op, q, kind))
        for i, (b, keep) in enumerate(zip(blooms, got)):
            want = (any(bloom_might_contain(b, v, kind) for v in q) if op == "in"
                    else bloom_might_contain(b, q, kind, op=op))
            n = bloom_ngram_len_of(b) if op == "contains" else None
            if n and len(q) - n + 1 > _NGRAM_PROBE_CAP:
                assert keep or not want, (op, q, i)  # a strided gram subset
            else:
                assert keep == want, (op, q, i)


def _blocks(spark, n=2000):
    df = spark.range(0, n, 1, 4).selectExpr(
        "id", "concat('https://h', id, '.com') AS url",
        "cast(id as double) AS score")
    return encode_table(df, bloom_columns=["url", "id"]), df


def test_encode_emits_blooms_only_for_requested(spark):
    blocks, _ = _blocks(spark)
    per_col = blocks.groupBy("column").agg(
        F.sum(F.when(F.col("bloom").isNull(), 0).otherwise(1)).alias("with_bloom"),
        F.count("*").alias("n")).collect()
    m = {r["column"]: r for r in per_col}
    assert m["url"].with_bloom == m["url"].n
    assert m["id"].with_bloom == m["id"].n
    assert m["score"].with_bloom == 0


def test_bloom_rejects_unencoded_column(spark, tmp_path):
    df = spark.range(10).selectExpr("id", "cast(id as string) AS s")
    src = str(tmp_path / "src")
    df.write.parquet(src)
    for columns, bloom in ((["id"], ["s"]), (None, ["nope"])):
        with pytest.raises(ValueError, match="bloom_columns"):
            encode_table(df, columns=columns, bloom_columns=bloom)
        with pytest.raises(ValueError, match="bloom_columns"):
            encode_parquet_dir(spark, src, str(tmp_path / "enc"),
                               columns=columns, bloom_columns=bloom)


def test_prune_blocks_bloom_prunes_and_is_exact(spark):
    # 4 partitions x 1 block each; urls unique per block, so an equality
    # probe should survive in exactly ONE group
    blocks, df = _blocks(spark)
    blocks = blocks.cache()
    total = blocks.select("part_id", "block_id").distinct().count()
    kept = prune_blocks_bloom(blocks, "url", "https://h1500.com") \
        .select("part_id", "block_id").distinct().count()
    assert kept < total
    out = decode_table_where(blocks, "url", "=", "https://h1500.com",
                             columns=["id", "url"], file_keyed=False).collect()
    assert [(r.id, r.url) for r in out] == [(1500, "https://h1500.com")]
    # int probe through the conjunction path too
    out2 = decode_table_where(blocks, "id", "=", 42, columns=["id", "score"],
                              file_keyed=False).collect()
    assert [(r.id, r.score) for r in out2] == [(42, 42.0)]
    # absent value: everything pruned, empty result with the right schema
    out3 = decode_table_where(blocks, "url", "=", "https://absent.com",
                              columns=["id", "url"], file_keyed=False)
    assert out3.count() == 0 and out3.columns == ["id", "url"]
    # a prefix on a non-string column prunes nothing
    assert prune_blocks_bloom(blocks, "id", "15", op="prefix") is blocks
    blocks.unpersist()


def test_bloomless_blocks_unaffected(spark):
    df = spark.range(0, 100, 1, 2).selectExpr("id", "concat('u', id) AS u")
    blocks = encode_table(df)  # no bloom_columns
    out = decode_table_where(blocks, "u", "=", "u7", columns=["id", "u"],
                             file_keyed=False).collect()
    assert [(r.id, r.u) for r in out] == [(7, "u7")]
    # legacy dirs: a blocks table WITHOUT the bloom column at all
    legacy = blocks.drop("bloom")
    out2 = decode_table_where(legacy, "u", "=", "u7", columns=["id", "u"],
                              file_keyed=False).collect()
    assert [(r.id, r.u) for r in out2] == [(7, "u7")]


def test_prefix_bloom_build_and_twin():
    from nail_parquet_spark.codec.bloom import bloom_prefix_len_of

    vals = pa.array(
        [f"https://h{i % 50}.example.com/page/{i}" for i in range(3000)])
    b = bloom_build(vals, prefix_len=12)
    assert bloom_prefix_len_of(b) == 12
    # eq probes still work on the flagged layout
    assert bloom_might_contain(b, "https://h7.example.com/page/7", "str")
    assert sum(
        bloom_might_contain(b, f"https://zz{i}.org/x", "str")
        for i in range(500)) / 500 < 0.05
    # prefix probes: present host prefix hits, absent host mostly misses;
    # a query prefix LONGER than P truncates soundly (still hits)
    assert bloom_might_contain(b, "https://h7.e", "str", op="prefix")
    assert bloom_might_contain(b, "https://h7.example.com/", "str", op="prefix")
    assert sum(
        bloom_might_contain(b, f"https://zz{i}.org/some/long/path", "str",
                            op="prefix")
        for i in range(500)) / 500 < 0.05
    # query prefix shorter than P, or no-prefix bitmap: keep (never wrong)
    assert bloom_might_contain(b, "https:", "str", op="prefix")
    assert bloom_might_contain(bloom_build(vals), "https://zznope",
                               "str", op="prefix")
    with pytest.raises(ValueError):
        bloom_build(pa.array([1, 2], pa.int64()), prefix_len=8)


def test_prefix_bloom_end_to_end_pruning(spark):
    # hosts repeat per block region; a host-prefix probe should prune to a
    # strict subset of blocks and stay value-exact
    df = spark.range(0, 4000, 1, 4).selectExpr(
        "id", "concat('https://h', cast(id div 1000 as string), "
        "'.example.com/p/', id) AS url")
    blocks = encode_table(df, bloom_columns=["url:18"]).cache()
    total = blocks.select("part_id", "block_id").distinct().count()
    kept = prune_blocks_bloom(
        blocks, "url", "https://h2.example.com/", op="prefix"
    ).select("part_id", "block_id").distinct().count()
    assert kept < total
    out = decode_table_where(blocks, "url", "prefix", "https://h2.example.com/",
                             columns=["id", "url"], file_keyed=False)
    ids = sorted(r.id for r in out.collect())
    assert ids == list(range(2000, 3000))
    # dict-spec form + conjunction path stays exact with an absent prefix
    out2 = decode_table_where(blocks, "url", "prefix", "https://nope.com/",
                              columns=["id"], file_keyed=False)
    assert out2.count() == 0
    blocks.unpersist()


class TestNgramKeys:
    """contains-pushdown n-gram keys (flag 0x40, tail byte N after P)."""

    def test_build_probe_and_tail_layout(self):
        from nail_parquet_spark.codec.bloom import (
            bloom_build, bloom_might_contain, bloom_ngram_len_of,
            bloom_prefix_len_of)

        vals = pa.array([f"https://h{i}.example.com/p{i}" for i in range(300)])
        dual = bloom_build(vals, prefix_len=10, ngram_len=4)
        assert bloom_prefix_len_of(dual) == 10
        assert bloom_ngram_len_of(dual) == 4
        only_n = bloom_build(vals, ngram_len=5)
        assert bloom_prefix_len_of(only_n) is None
        assert bloom_ngram_len_of(only_n) == 5
        assert bloom_might_contain(dual, "example.com", "str", op="contains")
        assert not bloom_might_contain(dual, "zzqx987", "str", op="contains")
        assert bloom_might_contain(dual, "zzq", "str", op="contains")  # < N
        # prefix + eq probes still exact on the dual-flag bitmap
        assert bloom_might_contain(dual, "https://h7.e", "str", op="prefix")
        assert not bloom_might_contain(dual, "ftp://nothing", "str",
                                       op="prefix")
        # query prefix shorter than the stored P cannot probe: no prune
        assert bloom_might_contain(dual, "ftp://no", "str", op="prefix")
        assert bloom_might_contain(
            dual, "https://h3.example.com/p3", "str")
        assert not bloom_might_contain(dual, "absent", "str")

    def test_short_values_insert_no_grams_and_validation(self):
        import pytest

        from nail_parquet_spark.codec.bloom import (
            bloom_build, bloom_might_contain)

        b = bloom_build(pa.array(["ab", "cd"]), ngram_len=6)
        # no value can contain a 6-byte query: every probe must prune
        assert not bloom_might_contain(b, "abcdef", "str", op="contains")
        with pytest.raises(ValueError, match="ngram_len"):
            bloom_build(pa.array([1, 2], pa.int64()), ngram_len=4)
        with pytest.raises(ValueError, match="ngram_len"):
            bloom_build(pa.array(["x"]), ngram_len=1)

    def test_strided_gram_cap(self):
        from nail_parquet_spark.codec.bloom import _strided_grams

        grams = _strided_grams(b"0123456789abcdef", 4)
        assert len(grams) <= 8
        assert grams[0] == b"0123" and grams[-1] == b"cdef"
        assert _strided_grams(b"abc", 4) == []

    def test_e2e_contains_prune_and_exact(self, spark):
        from pyspark.sql import functions as F

        from nail_parquet_spark.codec.decode import (
            decode_table_where, prune_blocks_bloom)
        from nail_parquet_spark.codec.encode import encode_table

        df = (spark.range(2000)
              .select(F.col("id").alias("k"),
                      F.concat(F.lit("row-"),
                               F.format_string("%04d", F.col("id")),
                               F.when(F.col("id") % 500 == 0,
                                      F.lit("-NEEDLE"))
                               .otherwise(F.lit(""))).alias("u"))
              .repartition(1).sortWithinPartitions("k"))
        blocks = encode_table(df, codecs={"k": "for_bitpack", "u": "zstd"},
                              block_rows=100,
                              bloom_columns=["u:g6"]).cache()

        def ng(b):
            return b.select("part_id", "block_id").distinct().count()

        pruned = prune_blocks_bloom(blocks, "u", "NEEDLE", op="contains")
        assert ng(pruned) < ng(blocks)
        got = decode_table_where(blocks, "u", "contains", "NEEDLE").collect()
        want = df.filter(F.col("u").contains("NEEDLE")).collect()
        assert sorted(map(tuple, got)) == sorted(map(tuple, want))
        # sub-N query: no pruning, still exact
        got2 = decode_table_where(blocks, "u", "contains", "-00").collect()
        want2 = df.filter(F.col("u").contains("-00")).collect()
        assert sorted(map(tuple, got2)) == sorted(map(tuple, want2))
        # prefix pushdown still prunes on the SAME dual-capable spec path
        blocks2 = encode_table(df, codecs={"k": "for_bitpack", "u": "zstd"},
                               block_rows=100,
                               bloom_columns=["u:5:g6"]).cache()
        got3 = decode_table_where(blocks2, "u", "prefix", "row-19").collect()
        want3 = df.filter(F.col("u").startswith("row-19")).collect()
        assert sorted(map(tuple, got3)) == sorted(map(tuple, want3))

    def test_cli_where_contains(self, spark, tmp_path, capsys):
        from nail_parquet_spark.cli import main

        src = str(tmp_path / "s.parquet")
        spark.createDataFrame(
            [(i, f"val-{i:03d}" + ("-HIT" if i % 40 == 0 else ""))
             for i in range(200)],
            "k long, u string").repartition(1).write.parquet(src)
        enc = str(tmp_path / "enc")
        assert main(["optimize", src, "-o", enc,
                     "--bloom-columns", "u:g4"]) == 0
        out = str(tmp_path / "hits.parquet")
        assert main(["decode", enc, "--where", "u*=-HIT", "-o", out]) == 0
        assert spark.read.parquet(out).count() == 5
