"""End-to-end codec pipeline tests on the synthetic web table (FIXTURES F1)."""
import pyarrow as pa
import pytest
from pyspark.sql import functions as F

from nail_parquet_spark.codec.decode import decode_table, verify_roundtrip
from nail_parquet_spark.codec.encode import encode_table
from nail_parquet_spark.codec.inspect import encoding_usage, metadata_summary, size_summary
from nail_parquet_spark.codec.select import choose_codec, column_stats
from nail_parquet_spark.synth import make_webpages_batch, webpages_spark


@pytest.fixture(scope="module")
def web(spark):
    df = webpages_spark(spark, 20_000, seed=42, n_parts=4).cache()
    df.count()
    return df


def test_synth_deterministic():
    a = make_webpages_batch(42, 0, 1000)
    b = make_webpages_batch(42, 0, 1000)
    assert a.equals(b)
    c = make_webpages_batch(43, 0, 1000)
    assert not a.column("url").equals(c.column("url")) or not a.column("text").equals(c.column("text"))


def test_roundtrip_bit_identity(spark, web):
    blocks = encode_table(web, policy="balanced").cache()
    dec = decode_table(blocks, columns=web.columns)
    res = verify_roundtrip(web, dec, key="url")
    assert res["joined_rows"] == 20_000
    assert res["total_mismatches"] == 0


def test_manifest_and_ratio(spark, web):
    blocks = encode_table(web, policy="ratio").cache()
    meta = {r["column"]: r.asDict() for r in metadata_summary(blocks).collect()}
    assert set(meta) == {"url", "warc_ts", "html", "text", "lang"}
    for c, m in meta.items():
        assert m["n_values"] == 20_000
        assert m["ratio"] > 1.0, f"{c} did not compress"
    assert meta["lang"]["ratio"] > 2  # low cardinality compresses well even in 5k-row test blocks
    tot = size_summary(blocks).collect()[0]
    assert tot["enc_bytes"] < tot["raw_bytes"]
    usage = encoding_usage(blocks).collect()
    assert sum(u["pct_blocks"] for u in usage if u["column"] == "lang") == pytest.approx(100, abs=0.2)


def test_forced_codecs(spark, web):
    blocks = encode_table(web, columns=["lang", "warc_ts"],
                          codecs={"lang": "rle", "warc_ts": "delta_bitpack"})
    used = {r["column"]: r["codec"] for r in blocks.select("column", "codec").distinct().collect()}
    assert used == {"lang": "rle", "warc_ts": "delta_bitpack"}
    dec = decode_table(blocks, columns=["lang", "warc_ts"])
    assert dec.count() == 20_000


def test_selector_stats():
    b = make_webpages_batch(42, 0, 5000)
    st = column_stats(b.column("lang"))
    assert st.distinct_ratio < 0.05
    codec, _ = choose_codec(b.column("lang"), policy="ratio")
    assert codec in ("dict", "rle", "zstd")
    ts_codec, _ = choose_codec(b.column("warc_ts"), policy="ratio")
    assert ts_codec in ("for_bitpack", "delta_bitpack", "zstd", "dict", "rle")


def test_decode_column_subset_from_full_blocks(spark, web, tmp_path):
    """Decoding a subset of columns from blocks that contain ALL columns
    (regression: the group-complete test counted unrequested columns)."""
    blocks = encode_table(web, policy="balanced").cache()
    dec = decode_table(blocks, columns=["url", "lang"])
    assert dec.columns == ["url", "lang"]
    res = verify_roundtrip(web.select("url", "lang"), dec, key="url")
    assert res["joined_rows"] == 20_000
    assert res["total_mismatches"] == 0

    from nail_parquet_spark.codec.decode import decode_parquet_dir, decode_to_parquet

    out1 = str(tmp_path / "dec_subset")
    decode_to_parquet(blocks, out1, columns=["url", "warc_ts"]).collect()
    got = spark.read.parquet(out1)
    assert set(got.columns) == {"url", "warc_ts"}
    assert got.count() == 20_000

    bdir = str(tmp_path / "blocks_full")
    blocks.write.parquet(bdir)
    out2 = str(tmp_path / "dec_subset2")
    decode_parquet_dir(spark, bdir, out2, columns=["url", "text"]).collect()
    got2 = spark.read.parquet(out2)
    assert set(got2.columns) == {"url", "text"}
    res2 = verify_roundtrip(web.select("url", "text"), got2, key="url")
    assert res2["total_mismatches"] == 0


def test_blocks_persist_roundtrip(spark, web, tmp_path):
    out = str(tmp_path / "blocks")
    encode_table(web, columns=["url", "lang"]).write.parquet(out)
    blocks = spark.read.parquet(out)
    dec = decode_table(blocks, columns=["url", "lang"])
    res = verify_roundtrip(web.select("url", "lang"), dec, key="url")
    assert res["total_mismatches"] == 0


def test_encode_parquet_dir_sink_roundtrip(spark, web, tmp_path):
    """Production sink path: scan->encode->python-side parquet writer with
    lineage manifests; group-complete files feed the shuffle-free decode."""
    from nail_parquet_spark.codec.decode import decode_parquet_dir
    from nail_parquet_spark.codec.encode import encode_parquet_dir

    src = str(tmp_path / "src")
    web.write.parquet(src)
    bdir = str(tmp_path / "blocks")
    manifests = encode_parquet_dir(spark, src, bdir, num_partitions=4).collect()
    assert sum(m["n_rows"] for m in manifests) == 20_000
    assert all(m["raw_bytes"] > m["enc_bytes"] for m in manifests)
    ddir = str(tmp_path / "dec")
    decode_parquet_dir(spark, bdir, ddir, columns=web.columns).collect()
    dec = spark.read.parquet(ddir)
    res = verify_roundtrip(web, dec, key="url")
    assert res["joined_rows"] == 20_000
    assert res["total_mismatches"] == 0


def test_encode_empty_table(spark, tmp_path):
    """A fully-filtered corpus writes a 0-row parquet file; encode must
    produce an empty block table, not crash planning (curate pipelines hit
    this when every doc is rejected)."""
    from nail_parquet_spark.codec.encode import encode_parquet_dir

    src = str(tmp_path / "empty_src")
    spark.createDataFrame([], "url string, text string").write.parquet(src)
    bdir = str(tmp_path / "empty_blocks")
    manifests = encode_parquet_dir(spark, src, bdir, num_partitions=2).collect()
    assert manifests == [] or sum(m["n_rows"] for m in manifests) == 0


def test_encode_leading_empty_file(spark, tmp_path):
    """A directory whose first listed file holds no row group still encodes
    with codec auto-selection (the sample is the first work item, not the
    first file's row group 0) and round-trips."""
    import pyarrow.parquet as pq

    from nail_parquet_spark.codec.decode import decode_parquet_dir
    from nail_parquet_spark.codec.encode import encode_parquet_dir

    src = tmp_path / "src"
    src.mkdir()
    t = pa.table({"id": pa.array(range(100), pa.int64()),
                  "s": pa.array([f"row {i % 7}" for i in range(100)])})
    pq.ParquetWriter(str(src / "a.parquet"), t.schema).close()  # 0 row groups
    pq.write_table(t, str(src / "b.parquet"))
    want = spark.read.parquet(str(src))
    assert want.count() == 100
    bdir = str(tmp_path / "blocks")
    manifests = encode_parquet_dir(spark, str(src), bdir).collect()
    assert sum(m["n_rows"] for m in manifests) == 100
    ddir = str(tmp_path / "dec")
    decode_parquet_dir(spark, bdir, ddir).collect()
    res = verify_roundtrip(want, spark.read.parquet(ddir), key="id")
    assert res["joined_rows"] == 100 and res["total_mismatches"] == 0


def test_encode_list_columns_end_to_end(spark):
    """array<float> / array<string> columns (the embeddings-table shape)
    encode through the full table path with real codecs — not the ipc_zstd
    exotic fallback — and decode bit-identical (kernels.py list kind)."""
    import numpy as np

    rng = np.random.default_rng(5)
    rows = [
        (
            i,
            None if i % 19 == 0 else np.round(
                rng.normal(size=8), 3).astype(np.float32).tolist(),
            ["tag%d" % (i % 4)] * (i % 3),
        )
        for i in range(2000)
    ]
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, tags array<string>"
    ).repartition(2)
    blocks = encode_table(df).cache()
    codecs = {r["column"]: r["codec"] for r in
              blocks.select("column", "codec").distinct().collect()}
    assert codecs["embedding"] != "ipc_zstd"
    assert codecs["tags"] != "ipc_zstd"
    dec = decode_table(blocks, columns=df.columns)
    res = verify_roundtrip(df, dec, key="vec_id")
    assert res["joined_rows"] == 2000
    assert res["total_mismatches"] == 0
    # 3-decimal float32 vectors: the decimal transform must beat raw bytes
    emb = blocks.filter(F.col("column") == "embedding").agg(
        F.sum("raw_bytes").alias("r"), F.sum("enc_bytes").alias("e")).collect()[0]
    assert emb["e"] < emb["r"]


def test_encode_parquet_dir_list_columns(spark, tmp_path):
    """The production dir sink path (C++ reader -> encode -> block parquet)
    must carry list columns end to end, picking a real codec (not the
    ipc_zstd exotic fallback) and decoding bit-identical."""
    import numpy as np

    from nail_parquet_spark.codec.decode import decode_parquet_dir
    from nail_parquet_spark.codec.encode import encode_parquet_dir

    rng = np.random.default_rng(9)
    rows = [
        (i, np.round(rng.normal(size=16), 3).astype(np.float32).tolist())
        for i in range(3000)
    ]
    src = str(tmp_path / "emb_src")
    spark.createDataFrame(rows, "vec_id long, embedding array<float>") \
        .repartition(2).write.parquet(src)
    bdir = str(tmp_path / "emb_blocks")
    encode_parquet_dir(spark, src, bdir, num_partitions=2).collect()
    blocks = spark.read.parquet(bdir)
    codecs = {r["column"]: r["codec"] for r in
              blocks.select("column", "codec").distinct().collect()}
    assert codecs["embedding"] in ("alp", "bss", "zstd", "dict", "plain")
    ddir = str(tmp_path / "emb_dec")
    decode_parquet_dir(spark, bdir, ddir).collect()
    dec = spark.read.parquet(ddir)
    src_df = spark.read.parquet(src)
    res = verify_roundtrip(src_df, dec, key="vec_id")
    assert res["joined_rows"] == 3000
    assert res["total_mismatches"] == 0
