"""CLI sweep — every subcommand runs against a small parquet fixture
(mirrors the reference's runtime_tests/test_all_commands.sh, 400-line shell
sweep). cli.main() reuses the session fixture via getOrCreate()."""
import json
import os

import pytest

from nail_parquet_spark.cli import main


@pytest.fixture(scope="module")
def data(spark, tmp_path_factory):
    p = str(tmp_path_factory.mktemp("cli") / "data.parquet")
    spark.createDataFrame(
        [(i, f"name{i}", float(i * 10), "AB"[i % 2], None if i == 3 else float(i))
         for i in range(1, 21)],
        "id long, name string, value double, category string, score double",
    ).write.parquet(p)
    return p


@pytest.fixture(scope="module")
def data2(spark, tmp_path_factory):
    p = str(tmp_path_factory.mktemp("cli") / "data2.parquet")
    spark.createDataFrame(
        [(i, i * 1.5) for i in range(1, 11)], "id long, bonus double"
    ).write.parquet(p)
    return p


def run(*argv):
    assert main(list(argv)) == 0


def test_cli_inspection(data, capsys):
    run("count", data)
    assert capsys.readouterr().out.strip().endswith("20")
    run("headers", data)
    assert "category" in capsys.readouterr().out
    run("schema", data)
    assert json.loads(capsys.readouterr().out)[0]["column"] == "id"
    run("head", data, "-n", "3")
    run("tail", data, "-n", "3")
    run("preview", data, "-n", "3", "--random", "7")


def test_cli_transforms(data, tmp_path):
    out = str(tmp_path / "o.parquet")
    run("select", data, "-c", "id,name", "-o", out)
    run("drop", data, "-c", "score", "-o", out)
    run("filter", data, "-c", "value>100", "-o", out)
    run("search", data, "-v", "name1", "-o", out)
    run("rename", data, "-c", "name=label", "-o", out)
    run("create", data, "-c", "double_value=value * 2", "-o", out)
    run("id", data, "--name", "row_id", "--prefix", "r_", "-o", out)
    run("sort", data, "--columns=-value,id", "-o", out)
    run("dedup", data, "-c", "category", "--row-wise", "-o", out)
    run("shuffle", data, "--seed", "42", "-o", out)
    run("sample", data, "-n", "5", "--seed", "1", "-o", out)
    run("sample", data, "-n", "6", "--seed", "1", "--stratify-by", "category", "-o", out)
    run("fill", data, "-c", "score", "--method", "mean", "-o", out)
    run("fill", data, "-c", "score", "--method", "forward", "-o", out)


def test_cli_analytics(data, capsys):
    run("stats", data, "--stats-type", "exhaustive")
    run("frequency", data, "-c", "category")
    run("correlations", data, "-c", "id,value", "--method", "pearson")
    run("outliers", data, "-c", "value", "--method", "zscore")
    run("binning", data, "-c", "value", "--bins", "4")
    run("pivot", data, "--index", "category", "--pivot", "name", "--value", "value")
    capsys.readouterr()


def test_cli_multi_input(data, data2, tmp_path):
    run("merge", data, "--right", data2, "-k", "id", "-o", str(tmp_path / "m.parquet"))
    run("append", data, "--others", data, "-o", str(tmp_path / "a.parquet"))
    run("split", data, "--ratios", "0.5,0.5", "--seed", "3", "-o", str(tmp_path / "s.parquet"))
    assert os.path.exists(str(tmp_path / "s_part0.parquet"))


def test_cli_sample_first_last(data, tmp_path, spark):
    # "first"/"last" follow scan order (the reference's file order), which
    # is deterministic for fixed files but unrelated to the id column
    out1, out2 = str(tmp_path / "f.parquet"), str(tmp_path / "l.parquet")
    run("sample", data, "-n", "4", "--method", "first", "-o", out1)
    first = {r["id"] for r in spark.read.parquet(out1).collect()}
    run("sample", data, "-n", "4", "--method", "last", "-o", out2)
    last = {r["id"] for r in spark.read.parquet(out2).collect()}
    assert len(first) == 4 and len(last) == 4
    assert not first & last  # opposite ends of a 20-row table


def test_cli_metadata_is_footer_native(data, capsys):
    """metadata/size on parquet must read the footer, not scan+encode, and
    the fields must match pyarrow ground truth (metadata.rs parity)."""
    import pyarrow.parquet as pq

    run("metadata", data)
    out = capsys.readouterr().out
    got = {}
    for line in out.splitlines():
        if ": " in line:
            k, v = line.split(": ", 1)
            got[k] = v
    import glob

    files = sorted(glob.glob(os.path.join(data, "**", "*.parquet"), recursive=True))
    md = pq.ParquetFile(files[0]).metadata
    multi = len(files) > 1
    if multi:
        assert int(got["total_rows"]) == 20
        assert got["num_files"] == str(len(files))
    else:
        assert int(got["num_rows"]) == 20
    pre = "file_0_" if multi else ""
    assert got[pre + "created_by"] == (md.created_by or "")
    assert got[pre + "num_row_groups"] == str(md.num_row_groups)
    assert got[pre + "column_0_name"] == md.schema.column(0).name
    assert got[pre + "rg_0_col_0_compression"] == md.row_group(0).column(0).compression
    assert "encodings" in out and "compression_ratio" in out.replace("overall_", "")


def test_cli_size_is_scan_free(data, capsys):
    run("size", data)
    rep = json.loads(capsys.readouterr().out)
    assert rep["rows"] == 20
    assert rep["columns"] == 5
    assert rep["file_size_bytes"] > 0
    assert rep["est_memory_bytes"] >= 8 * 20  # at least the id column
    names = {c["column"] for c in rep["per_column"]}
    assert names == {"id", "name", "value", "category", "score"}


def test_cli_optimize_compression_menu(data, tmp_path, spark):
    out = str(tmp_path / "zstd7.parquet")
    run("optimize", data, "-o", out, "--compression", "zstd", "--compression-level", "7")
    import glob

    import pyarrow.parquet as pq

    f = glob.glob(os.path.join(out, "*.parquet"))[0]
    md = pq.ParquetFile(f).metadata
    assert md.row_group(0).column(0).compression == "ZSTD"
    assert spark.read.parquet(out).count() == 20


def test_cli_encode_surface(data, tmp_path, capsys):
    run("convert", data, "-o", str(tmp_path / "c.csv"))
    run("size", str(tmp_path / "c.csv"))  # non-parquet -> encode-analysis path
    capsys.readouterr()
    run("optimize", data, "-o", str(tmp_path / "blocks"), "--validate",
        "--codecs", '{"name": "fsst"}')
    out = capsys.readouterr().out
    assert "match=True" in out
    run("update")


def test_cli_decode_roundtrip(data, tmp_path, spark, capsys):
    blocks = str(tmp_path / "blk")
    run("optimize", data, "-o", blocks)
    capsys.readouterr()
    out = str(tmp_path / "dec")
    run("decode", blocks, "-o", out)
    assert "decoded 20 rows" in capsys.readouterr().out
    got = spark.read.parquet(out)
    assert got.count() == 20
    assert set(got.columns) == {"id", "name", "value", "category", "score"}
    # column-subset decode
    out2 = str(tmp_path / "dec2")
    run("decode", blocks, "-o", out2, "-c", "id,name")
    assert set(spark.read.parquet(out2).columns) == {"id", "name"}


def test_cli_blockstats(data, tmp_path, capsys):
    blocks = str(tmp_path / "blk_stats")
    run("optimize", data, "-o", blocks)
    capsys.readouterr()
    run("blockstats", blocks, "-c", "id,score")
    got = json.loads(capsys.readouterr().out)
    assert got["id"] == {"count": 20, "null_count": 0, "min": 1, "max": 20}
    assert got["score"]["count"] == 19 and got["score"]["null_count"] == 1


def test_cli_blockstats_distinct(data, tmp_path, spark, capsys):
    blocks = str(tmp_path / "blk_dst")
    run("optimize", data, "-o", blocks, "--codecs", '{"category": "dict"}')
    capsys.readouterr()
    run("blockstats", blocks, "--distinct", "category", "--dict-only")
    got = json.loads(capsys.readouterr().out)
    want = sorted(r[0] for r in
                  spark.read.parquet(data).select("category").distinct()
                  .collect())
    assert got == want
    run("blockstats", blocks, "--frequency", "category", "--dict-only")
    freq = json.loads(capsys.readouterr().out)
    want_n = {r[0]: r[1] for r in
              spark.read.parquet(data).groupBy("category").count().collect()}
    assert {v: n for v, n in freq} == want_n
    run("blockstats", blocks, "--count-where", "value>=150")
    cw = json.loads(capsys.readouterr().out)
    want_c = spark.read.parquet(data).filter("value >= 150").count()
    assert cw["count"] == want_c
    assert cw["groups_metadata"] + cw["groups_decoded"] == cw["groups_total"]


def test_cli_binning_reference_flags(data, tmp_path, spark):
    out = str(tmp_path / "b.parquet")
    # custom edges via --bins + custom labels + drop-original (binning.rs:22-43)
    run("binning", data, "-c", "value", "--bins", "0,150,1000",
        "--labels", "low,high", "--drop-original", "-o", out)
    got = spark.read.parquet(out)
    assert "value" not in got.columns and "value_bin" in got.columns
    assert {r["value_bin"] for r in got.collect()} == {"low", "high"}
    # multi-column with suffix
    run("binning", data, "-c", "value,score", "--bins", "3", "--suffix", "_b", "-o", out)
    got2 = spark.read.parquet(out)
    assert "value_b" in got2.columns and "score_b" in got2.columns


def test_cli_search_exact(data, capsys):
    run("search", data, "-v", "name1", "--exact")
    out1 = capsys.readouterr().out
    run("search", data, "-v", "name1")
    out2 = capsys.readouterr().out
    assert "name1 " in out1 or "name1|" in out1  # the exact row matched
    assert "name10" not in out1  # exact excludes the substring family
    assert "name10" in out2  # substring search includes it
    # --rows variant honors exact too (library-level check: exact matches
    # exactly one row, substring matches the whole name1x family)
    from nail_parquet_spark.operators import search_rows

    df = __import__("pyspark.sql", fromlist=["SparkSession"]).SparkSession.active().read.parquet(data)
    assert search_rows(df, "name1", exact=True).count() == 1
    assert search_rows(df, "name1", exact=False).count() == 11


def test_cli_split_reference_naming(data, tmp_path, spark):
    d = str(tmp_path / "splits")
    run("split", data, "--ratios", "0.5,0.5", "--seed", "3",
        "--prefix", "shard", "--output-dir", d)
    a = spark.read.parquet(os.path.join(d, "shard_0.parquet"))
    b = spark.read.parquet(os.path.join(d, "shard_1.parquet"))
    assert a.count() + b.count() == 20
    run("split", data, "--ratios", "0.5,0.5", "--seed", "3",
        "--names", "tr.parquet,te.parquet", "--output-dir", d)
    assert os.path.exists(os.path.join(d, "tr.parquet"))


def test_cli_pivot_multi_value_and_fill(data, capsys, tmp_path, spark):
    out = str(tmp_path / "pv.parquet")
    run("pivot", data, "--index", "category", "--pivot", "name",
        "--value", "value,score", "--agg", "sum", "--fill", "0", "-o", out)
    got = spark.read.parquet(out)
    # one column per (pivot value x value col), no NULL cells
    assert any(c.endswith("_value") for c in got.columns)
    assert got.na.drop("any").count() == got.count()


def test_cli_merge_left_right_flags(data, data2, tmp_path, spark):
    out = str(tmp_path / "ml.parquet")
    run("merge", data, "--right", data2, "-k", "id=id", "--left", "-o", out)
    assert spark.read.parquet(out).count() == 20
    run("merge", data, "--right", data2, "-k", "id=id", "--right-join", "-o", out)
    assert spark.read.parquet(out).count() == 10


def test_cli_drop_rows_dual_semantics(data, tmp_path, spark):
    out = str(tmp_path / "dr.parquet")
    run("drop", data, "-r", "value>100", "-o", out)
    assert spark.read.parquet(out).count() == 10
    run("drop", data, "-r", "1-15", "-o", out)
    assert spark.read.parquet(out).count() == 5


def test_cli_correlations_tests_and_digits(data, capsys):
    run("correlations", data, "-c", "id,value", "--tests", "--digits", "3")
    out = capsys.readouterr().out
    assert "p_value" in out


def test_cli_correlations_kendall_tests(data, capsys):
    """--tests works for kendall too (tau-specific z-stat path, round 4)."""
    run("correlations", data, "-c", "id,value", "--method", "kendall", "--tests")
    out = capsys.readouterr().out
    assert "z_stat" in out and "p_value" in out


def test_cli_outliers_show_values_rows(data, tmp_path, spark):
    out = str(tmp_path / "ol.parquet")
    run("outliers", data, "-c", "value", "--method", "zscore", "--threshold", "1.0",
        "--show-values", "--with-row-numbers", "-o", out)
    got = spark.read.parquet(out)
    assert "row_number" in got.columns
    assert got.count() > 0  # z>1.0 flags the extremes of 10..200
    assert got.filter("NOT is_outlier").count() == 0


def test_cli_optimize_bucket_by(data, spark, capsys):
    try:
        run("optimize", data, "--bucket-by", "id", "--buckets", "4", "--table", "t_cli_bkt")
        assert "bucketed table t_cli_bkt" in capsys.readouterr().out
        assert spark.table("t_cli_bkt").count() == 20
    finally:
        spark.sql("DROP TABLE IF EXISTS t_cli_bkt")


def test_dedup_columns_types_not_conflated(spark):
    """An int column and a string column with identical renderings are NOT
    duplicates (the fingerprint includes the dtype)."""
    from nail_parquet_spark.operators import dedup_columns

    df = spark.createDataFrame([(1, "1"), (2, "2")], "i long, s string")
    assert dedup_columns(df).columns == ["i", "s"]


def test_cli_encode_xref_roundtrip(spark, tmp_path, capsys):
    """User-facing xref: optimize --codecs routes html through the
    cross-column codec and --validate confirms bit-identity; decode of the
    xref column alone pulls the reference blocks."""
    from nail_parquet_spark.synth import webpages_spark

    src = str(tmp_path / "pages")
    webpages_spark(spark, 2_000, seed=3, n_parts=1).write.parquet(src)
    blocks = str(tmp_path / "blk")
    run("optimize", src, "-o", blocks, "--validate",
        "--codecs", '{"html": "xref:text:3"}')
    assert "match=True" in capsys.readouterr().out
    out = str(tmp_path / "dec")
    run("decode", blocks, "-o", out, "-c", "url,html")
    got = spark.read.parquet(out)
    assert set(got.columns) == {"url", "html"}
    assert got.count() == 2_000


def test_cli_compact_blocks(spark, tmp_path, capsys):
    from nail_parquet_spark.synth import webpages_spark

    src = str(tmp_path / "pages")
    webpages_spark(spark, 2_000, seed=31, n_parts=4).write.parquet(src)
    blocks = str(tmp_path / "blk")
    run("optimize", src, "-o", blocks)
    capsys.readouterr()
    cdir = str(tmp_path / "compacted")
    run("compact", blocks, "-o", cdir, "--num-files", "2")
    assert "compacted" in capsys.readouterr().out
    out = str(tmp_path / "dec")
    run("decode", cdir, "-o", out)
    assert spark.read.parquet(out).count() == 2_000


def test_cli_decode_where_pushdown(spark, tmp_path, capsys):
    from nail_parquet_spark.synth import webpages_spark

    src = str(tmp_path / "pages")
    webpages_spark(spark, 2_000, seed=5, n_parts=1).write.parquet(src)
    blocks = str(tmp_path / "blk")
    run("optimize", src, "-o", blocks)
    capsys.readouterr()
    out = str(tmp_path / "dec")
    run("decode", blocks, "-o", out, "-c", "url,lang", "--where", "lang=en")
    assert "pushdown" in capsys.readouterr().out
    got = spark.read.parquet(out)
    assert set(got.columns) == {"url", "lang"}
    want = spark.read.parquet(src).filter("lang = 'en'").count()
    assert got.count() == want > 0


def test_cli_decode_snapshot_time_travel(spark, tmp_path, capsys):
    from nail_parquet_spark.pipeline.checkpoint import encode_resumable, snapshots
    from nail_parquet_spark.synth import webpages_spark

    src = str(tmp_path / "pages")
    webpages_spark(spark, 2_000, seed=7, n_parts=4).write.parquet(src)
    out = str(tmp_path / "enc")
    codecs = {"url": "zstd", "warc_ts": "delta_bitpack", "html": "zstd",
              "text": "zstd", "lang": "dict"}
    encode_resumable(spark, src, out, codecs=codecs, max_units=2, units_per_job=2)
    encode_resumable(spark, src, out, codecs=codecs, units_per_job=2)
    assert [s["snapshot"] for s in snapshots(out)] == [1, 2]
    dec1 = str(tmp_path / "dec1")
    run("decode", out, "-o", dec1, "-c", "url", "--snapshot", "1")
    dec2 = str(tmp_path / "dec2")
    run("decode", out, "-o", dec2, "-c", "url")
    n1 = spark.read.parquet(dec1).count()
    # snapshot 1 sees only batch 1's units; a plain decode reads every batch
    assert 0 < n1 < 2_000
    assert spark.read.parquet(dec2).count() == 2_000

    # maintenance verb: nothing expirable (both snaps are latest-per-batch),
    # then orphan GC with dry-run first
    run("maintain", out, "--expire-keep-last", "1")
    assert '"expired": []' in capsys.readouterr().out
    os.makedirs(os.path.join(out, "batch=feedfacecafe"))
    run("maintain", out, "--gc-orphans", "--dry-run")
    assert "feedfacecafe" in capsys.readouterr().out
    assert os.path.exists(os.path.join(out, "batch=feedfacecafe"))
    run("maintain", out, "--gc-orphans")
    capsys.readouterr()
    assert not os.path.exists(os.path.join(out, "batch=feedfacecafe"))
    dec3 = str(tmp_path / "dec3")
    run("decode", out, "-o", dec3, "-c", "url")
    assert spark.read.parquet(dec3).count() == 2_000


def test_cli_quality_modes(spark, tmp_path, capsys):
    p = str(tmp_path / "docs.parquet")
    good = " ".join(["the quick brown fox jumps over that lazy dog and more"] * 6)
    spark.createDataFrame(
        [(1, good), (2, "tiny"), (3, "dup\ndup\ndup\ndup")],
        "doc_id long, text string",
    ).write.parquet(p)
    run("quality", p, "--mode", "signals")
    out = capsys.readouterr().out
    assert "n_stop_hits" in out and "frac_lines_bullet" in out
    run("quality", p, "--mode", "repetition")
    assert "dup_line_frac" in capsys.readouterr().out
    run("quality", p, "--mode", "top-ngram", "--ngram", "2")
    assert "char_frac" in capsys.readouterr().out
    surv = str(tmp_path / "surv.parquet")
    run("quality", p, "--remove", "-o", surv)
    kept = spark.read.parquet(surv)
    assert [r.doc_id for r in kept.collect()] == [1]
    assert set(kept.columns) == {"doc_id", "text"}
    # threshold override keeps the short doc too
    surv2 = str(tmp_path / "surv2.parquet")
    run("quality", p, "--remove", "--rules", '{"min_words": 1, "min_stop_hits": 0, "min_mean_word_len": 0}', "-o", surv2)
    assert spark.read.parquet(surv2).count() >= 2
    # --engine arrow: byte-kernel signals, same survivors
    surv3 = str(tmp_path / "surv3.parquet")
    run("quality", p, "--remove", "--engine", "arrow", "-o", surv3)
    assert [r.doc_id for r in spark.read.parquet(surv3).collect()] == [1]


def test_cli_quality_clean_and_dedup_lines(spark, tmp_path, capsys):
    p = str(tmp_path / "docs2.parquet")
    spark.createDataFrame(
        [(1, "Keep this long line.\nshared dup line here.\nnope"),
         (2, "shared dup line here.\nAnother keeper stays here!")],
        "doc_id long, text string",
    ).write.parquet(p)
    out = str(tmp_path / "clean.parquet")
    run("quality", p, "--mode", "clean", "-o", out)
    got = {r["doc_id"]: r["text"] for r in spark.read.parquet(out).collect()}
    assert got[1] == "Keep this long line.\nshared dup line here."
    assert got[2] == "shared dup line here.\nAnother keeper stays here!"
    out2 = str(tmp_path / "dl.parquet")
    run("quality", p, "--mode", "dedup-lines", "-o", out2)
    got2 = {r["doc_id"]: r["text"] for r in spark.read.parquet(out2).collect()}
    # doc 1 (smaller id) keeps the shared line; doc 2 loses it
    assert "shared dup line here." in got2[1]
    assert "shared dup line here." not in got2[2]


def test_cli_optimize_quality_gate(spark, tmp_path, capsys):
    from nail_parquet_spark.codec.decode import decode_table

    p = str(tmp_path / "docs3.parquet")
    good = " ".join(["the quick brown fox jumps over that lazy dog and more"] * 6)
    spark.createDataFrame(
        [(i, good if i % 2 == 0 else "junk") for i in range(10)],
        "doc_id long, text string",
    ).write.parquet(p)
    out = str(tmp_path / "blocks")
    run("optimize", p, "-o", out, "--quality")
    assert "quality gate: rejected 5 rows" in capsys.readouterr().out
    dec = decode_table(spark.read.parquet(out))
    assert dec.count() == 5
    assert {r["doc_id"] % 2 for r in dec.select("doc_id").collect()} == {0}


def test_cli_pii_and_domains(spark, tmp_path, capsys):
    p = str(tmp_path / "docs.parquet")
    spark.createDataFrame(
        [(1, "mail me at a@b.com", "https://www.alpha.com/1"),
         (2, "call 555-123-4567", "https://sub.beta.co.uk/2"),
         (3, "clean text here", "https://www.alpha.com/3")],
        "id long, text string, url string",
    ).write.parquet(p)
    out = str(tmp_path / "masked.parquet")
    run("pii", p, "--mode", "mask", "-o", out)
    got = {r.id: r.text for r in spark.read.parquet(out).collect()}
    assert got[1] == "mail me at <EMAIL>"
    assert got[2] == "call <PHONE>"
    assert got[3] == "clean text here"
    run("pii", p, "--mode", "stats")
    assert "email" in capsys.readouterr().out
    out2 = str(tmp_path / "capped.parquet")
    run("domains", p, "--mode", "cap", "--max-docs", "1",
        "--order-column", "id", "-o", out2)
    assert spark.read.parquet(out2).count() == 2
    run("domains", p, "--mode", "stats", "--text-column", "text")
    assert "alpha.com" in capsys.readouterr().out


def test_cli_optimize_bloom_columns(spark, tmp_path, capsys):
    p = str(tmp_path / "d.parquet")
    spark.range(0, 500, 1, 2).selectExpr("id", "concat('u', id) AS u") \
        .write.parquet(p)
    out = str(tmp_path / "blocks")
    run("optimize", p, "--bloom-columns", "u", "-o", out)
    assert "bloom_bytes" in capsys.readouterr().out
    blocks = spark.read.parquet(out)
    assert blocks.filter("column = 'u' AND bloom IS NULL").count() == 0
    assert blocks.filter("column = 'id' AND bloom IS NOT NULL").count() == 0


def test_cli_shards(spark, tmp_path, capsys):
    p = str(tmp_path / "s.parquet")
    spark.range(0, 100, 1, 4).selectExpr("id", "cast(100 as bigint) AS n_tok") \
        .write.parquet(p)
    run("shards", p, "--token-column", "n_tok", "--budget", "1000",
        "--order-column", "id", "--stats")
    out = capsys.readouterr().out
    assert "n_tokens" in out


def test_cli_mix(spark, tmp_path, capsys):
    p = str(tmp_path / "m.parquet")
    spark.range(0, 400, 1, 2).selectExpr(
        "id", "CASE WHEN id % 4 = 0 THEN 'a' ELSE 'b' END AS g").write.parquet(p)
    run("mix", p, "--group-column", "g", "--id-column", "id",
        "--rates", '{"b": 0.5}', "--stats")
    out = capsys.readouterr().out
    assert "n_before" in out
    run("mix", p, "--group-column", "g", "--id-column", "id",
        "--temperature", "5", "--stats")
    assert "rate" in capsys.readouterr().out


def test_cli_decontam_and_perplexity(spark, tmp_path, capsys):
    docs = str(tmp_path / "docs.parquet")
    spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog"),
         (2, "what is the capital of france paris of course"),
         (3, "clean text about spark partitions and shuffles")],
        "doc_id long, text string",
    ).write.parquet(docs)
    ev = str(tmp_path / "eval.parquet")
    spark.createDataFrame(
        [(1, "what is the capital of france")], "qid long, text string"
    ).write.parquet(ev)

    rep = str(tmp_path / "rep.parquet")
    run("decontam", docs, "--eval", ev, "--id-column", "doc_id",
        "--ngram", "3", "--report", "-o", rep)
    got = {r["doc_id"]: r["n_hit"] for r in spark.read.parquet(rep).collect()}
    assert got[2] > 0 and got[1] == 0 and got[3] == 0

    kept = str(tmp_path / "kept.parquet")
    run("decontam", docs, "--eval", ev, "--id-column", "doc_id",
        "--ngram", "3", "-o", kept)
    ids = {r["doc_id"] for r in spark.read.parquet(kept).collect()}
    assert ids == {1, 3}

    ppl = str(tmp_path / "ppl.parquet")
    run("quality", docs, "--mode", "perplexity", "--id-column", "doc_id",
        "-o", ppl)
    rows = spark.read.parquet(ppl).collect()
    assert len(rows) == 3 and all(r["perplexity"] > 0 for r in rows)


def test_cli_fill_grouped(spark, tmp_path):
    p = str(tmp_path / "g.parquet")
    spark.createDataFrame(
        [("a", 1.0), ("a", None), ("b", 7.0), ("b", None)],
        "g string, v double",
    ).write.parquet(p)
    out = str(tmp_path / "filled.parquet")
    run("fill", p, "-c", "v", "--method", "mean", "--group-by", "g", "-o", out)
    got = {(r["g"], r["v"]) for r in spark.read.parquet(out).collect()}
    assert got == {("a", 1.0), ("b", 7.0)}


def test_cli_quality_buckets_and_paragraph_dedup(spark, tmp_path):
    p = str(tmp_path / "d.parquet")
    spark.createDataFrame(
        [(i, "en", "common words here plus token%d" % (i % 3)) for i in range(9)],
        "doc_id long, lang string, text string",
    ).write.parquet(p)
    out = str(tmp_path / "b.parquet")
    run("quality", p, "--mode", "ppl-buckets", "--id-column", "doc_id",
        "--group-by", "lang", "-o", out)
    got = {r["bucket"] for r in spark.read.parquet(out).collect()}
    assert got <= {"head", "middle", "tail"}

    p2 = str(tmp_path / "pg.parquet")
    spark.createDataFrame(
        [(1, "Para one.\n\nShared banner."), (2, "Shared banner.\n\nPara two.")],
        "doc_id long, text string",
    ).write.parquet(p2)
    out2 = str(tmp_path / "pg_out.parquet")
    run("quality", p2, "--mode", "dedup-paragraphs", "--id-column", "doc_id",
        "-o", out2)
    got2 = {r["doc_id"]: r["text"] for r in spark.read.parquet(out2).collect()}
    assert got2[1] == "Para one.\n\nShared banner."
    assert got2[2] == "Para two."


def test_cli_analytics(spark, tmp_path, capsys):
    p = str(tmp_path / "ev.parquet")
    spark.createDataFrame(
        [(1, "2024-01-01 09:00:00", 1, "view", 1.0),
         (2, "2024-01-01 10:00:00", 1, "click", 2.0),
         (3, "2024-01-02 11:00:00", 2, "view", 3.0),
         (4, "2024-01-02 12:00:00", 2, "view", 9.0)],
        "event_id long, ts string, user_id long, event_type string, value double",
    ).selectExpr("event_id", "cast(ts as timestamp) AS ts", "user_id",
                 "event_type", "value").write.parquet(p)
    run("analytics", p, "--mode", "funnel", "--steps", "view,click")
    out = capsys.readouterr().out
    assert "view" in out and "click" in out
    run("analytics", p, "--mode", "retention")
    assert "offset_days" in capsys.readouterr().out
    run("analytics", p, "--mode", "rollup", "--group-by", "event_type",
        "--agg", '{"n": ["count", "event_id"], "s": ["sum", "value"]}')
    assert "grouping_id" in capsys.readouterr().out
    run("analytics", p, "--mode", "resample", "--group-by", "event_type",
        "--every", "3600", "--value-column", "value")
    assert "n_events" in capsys.readouterr().out
    run("analytics", p, "--mode", "topk", "--group-by", "event_type",
        "--order-column", "value", "--id-column", "event_id", "-k", "1")
    assert "9.0" in capsys.readouterr().out
    run("analytics", p, "--mode", "sample-group", "--group-by", "event_type",
        "--id-column", "event_id", "-k", "1")
    capsys.readouterr()


def test_cli_funnel_durations_and_chunk(spark, tmp_path, capsys):
    p = str(tmp_path / "ev2.parquet")
    spark.createDataFrame(
        [(1, "2024-01-01 09:00:00", 1, "view", 1.0),
         (2, "2024-01-01 10:00:00", 1, "click", 2.0)],
        "event_id long, ts string, user_id long, event_type string, value double",
    ).selectExpr("event_id", "cast(ts as timestamp) AS ts", "user_id",
                 "event_type", "value").write.parquet(p)
    run("analytics", p, "--mode", "funnel-durations", "--steps", "view,click")
    out = capsys.readouterr().out
    assert "avg_seconds" in out and "3600" in out

    d = str(tmp_path / "docs_chunk.parquet")
    spark.createDataFrame(
        [(1, "a b c d e f")], "doc_id long, text string"
    ).write.parquet(d)
    run("chunk", d, "--chunk-tokens", "4", "--overlap", "2")
    out = capsys.readouterr().out
    assert "chunk_text" in out and "c d e f" in out


def test_cli_quality_boilerplate(spark, tmp_path):
    p = str(tmp_path / "site_docs.parquet")
    spark.createDataFrame(
        [(1, "https://a-site.com/x", "NAV bar\nunique alpha"),
         (2, "https://a-site.com/y", "NAV bar\nunique beta"),
         (3, "https://b-site.org/z", "NAV bar\nsolo site doc")],
        "doc_id long, url string, text string",
    ).write.parquet(p)
    out = str(tmp_path / "bp.parquet")
    run("quality", p, "--mode", "boilerplate", "--url-column", "url", "-o", out)
    got = {r["doc_id"]: r["text"] for r in spark.read.parquet(out).collect()}
    assert got[1] == "unique alpha"
    assert got[2] == "unique beta"
    assert got[3] == "NAV bar\nsolo site doc"  # 1-doc site: untouched
    cols = spark.read.parquet(out).columns
    assert "__site" not in cols and "url" in cols


def test_cli_analytics_pagerank(spark, tmp_path, capsys):
    p = str(tmp_path / "edges.parquet")
    spark.createDataFrame(
        [("a.com", "b.com"), ("a.com", "c.com"), ("b.com", "a.com")],
        "src string, dst string",
    ).write.parquet(p)
    out = str(tmp_path / "pr.parquet")
    run("analytics", p, "--mode", "pagerank", "--iterations", "5", "-o", out)
    got = spark.read.parquet(out)
    assert set(got.columns) == {"node", "rank"}
    assert got.count() == 3


def test_cli_quality_span_modes(spark, tmp_path, capsys):
    p = str(tmp_path / "spans.parquet")
    spark.createDataFrame(
        [(1, "a b c d e"), (2, "x a b c y"), (3, "q r s")],
        "doc_id long, text string",
    ).write.parquet(p)
    out = str(tmp_path / "span_stats.parquet")
    run("quality", p, "--mode", "span-stats", "--window", "3", "-o", out)
    got = {r["doc_id"]: r for r in spark.read.parquet(out).collect()}
    assert got[1]["n_dup_windows"] == 1 and got[1]["dup_tokens"] == 3
    assert got[3]["n_dup_windows"] == 0
    out2 = str(tmp_path / "span_rm.parquet")
    run("quality", p, "--mode", "dedup-spans", "--window", "3", "-o", out2)
    got2 = {r["doc_id"]: r["text"] for r in spark.read.parquet(out2).collect()}
    assert got2 == {1: "d e", 2: "x y", 3: "q r s"}
    out3 = str(tmp_path / "span_keep.parquet")
    run("quality", p, "--mode", "dedup-spans", "--window", "3",
        "--keep-first", "-o", out3)
    got3 = {r["doc_id"]: r["text"] for r in spark.read.parquet(out3).collect()}
    assert got3 == {1: "a b c d e", 2: "x y", 3: "q r s"}


def test_cli_quality_entropy(spark, tmp_path):
    p = str(tmp_path / "ent.parquet")
    spark.createDataFrame(
        [(1, "aa bb aa"), (2, "")], "doc_id long, text string",
    ).write.parquet(p)
    out = str(tmp_path / "ent_out.parquet")
    run("quality", p, "--mode", "entropy", "--id-column", "doc_id", "-o", out)
    got = {r["doc_id"]: r for r in spark.read.parquet(out).collect()}
    assert got[1]["n_chars"] == 8 and got[1]["char_entropy"] == 1.5
    assert got[2]["n_words"] == 1 and got[2]["word_entropy"] == 0.0


def test_cli_dedup_pairs(spark, tmp_path):
    src = str(tmp_path / "cdocs.parquet")
    short = "alpha beta gamma delta epsilon"
    spark.createDataFrame(
        [(1, short), (2, short + " " + "tail words " * 20)],
        "doc_id long, text string",
    ).write.parquet(src)
    out = str(tmp_path / "pairs.parquet")
    run("dedup", src, "--pairs", "containment", "--id-col", "doc_id",
        "--threshold", "0.9", "-o", out)
    rows = spark.read.parquet(out).collect()
    assert len(rows) == 1 and rows[0]["containment_a"] == 1.0
    run("dedup", src, "--pairs", "jaccard", "--id-col", "doc_id",
        "--threshold", "0.9", "-o", out)
    assert spark.read.parquet(out).count() == 0


def test_cli_dedup_soft(spark, tmp_path, capsys):
    src = str(tmp_path / "docs.parquet")
    spark.createDataFrame(
        [(1, "same"), (2, "same"), (3, "other")], "doc_id long, text string"
    ).write.parquet(src)
    out = str(tmp_path / "soft.parquet")
    run("dedup", src, "--soft", "--id-col", "doc_id", "-o", out)
    got = {r["doc_id"]: (r["dup_count"], r["weight"])
           for r in spark.read.parquet(out).collect()}
    assert got[1] == (2, 0.5) == got[2] and got[3] == (1, 1.0)


def test_cli_search_rank(spark, tmp_path):
    src = str(tmp_path / "docs_rank.parquet")
    spark.createDataFrame(
        [(1, "spark query engine"), (2, "table scan"), (3, "query")],
        "doc_id long, text string",
    ).write.parquet(src)
    out = str(tmp_path / "ranked.parquet")
    run("search", src, "-v", "query engine", "--rank", "--id-col", "doc_id",
        "-k", "2", "-o", out)
    got = spark.read.parquet(out).collect()
    assert len(got) == 2 and got[0]["doc_id"] == 1  # matches both terms


def test_cli_quality_bigram_and_dsir(spark, tmp_path):
    src = str(tmp_path / "docs_lm.parquet")
    spark.createDataFrame(
        [(1, "a b a b"), (2, "a b"), (3, "z"), (4, "clean prose here")],
        "doc_id long, text string",
    ).write.parquet(src)
    tgt = str(tmp_path / "tgt.parquet")
    spark.createDataFrame(
        [(10, "clean prose")], "doc_id long, text string").write.parquet(tgt)

    out1 = str(tmp_path / "bi.parquet")
    run("quality", src, "--mode", "bigram-perplexity", "--id-column",
        "doc_id", "-o", out1)
    got = {r["doc_id"]: r["n_transitions"]
           for r in spark.read.parquet(out1).collect()}
    assert got == {1: 3, 2: 1, 3: 0, 4: 2}

    out2 = str(tmp_path / "dsir.parquet")
    run("quality", src, "--mode", "dsir", "--target", tgt, "--id-column",
        "doc_id", "--buckets", "64", "-o", out2)
    w = {r["doc_id"]: r["log_weight"] for r in spark.read.parquet(out2).collect()}
    assert w[4] > w[1]  # target-like doc outranks the unrelated one


def test_cli_cluster_kmeans_and_semdedup(spark, tmp_path):
    src = str(tmp_path / "vecs_cli.parquet")
    spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.999, 0.001]), (3, [0.0, 1.0])],
        "id long, v array<double>",
    ).write.parquet(src)
    out = str(tmp_path / "km.parquet")
    run("cluster", src, "--mode", "kmeans", "--id-col", "id",
        "--vec-col", "v", "-k", "2", "-o", out)
    got = {r["id"]: r["cluster"] for r in spark.read.parquet(out).collect()}
    assert got[1] == got[2] != got[3]
    out2 = str(tmp_path / "sd.parquet")
    run("cluster", src, "--mode", "semdedup", "--id-col", "id",
        "--vec-col", "v", "-k", "2", "--tau", "0.99", "-o", out2)
    kept = sorted(r["id"] for r in spark.read.parquet(out2).collect())
    assert kept == [1, 3]


def test_cli_search_hybrid(spark, tmp_path):
    src = str(tmp_path / "docs_hybrid.parquet")
    spark.createDataFrame(
        [(1, "spark query engine", [1.0, 0.0]),
         (2, "table scan", [0.99, 0.01]),
         (3, "query", [0.0, 1.0])],
        "doc_id long, text string, embedding array<double>",
    ).write.parquet(src)
    out = str(tmp_path / "hybrid.parquet")
    run("search", src, "-v", "query engine", "--hybrid", "--id-col",
        "doc_id", "--query-id", "1", "-k", "3", "-o", out)
    got = {r["doc_id"]: r for r in spark.read.parquet(out).collect()}
    # doc 2 never matches the query lexically but is cosine-near doc 1
    assert got[2]["bm25_rank"] is None and got[2]["cos_rank"] is not None
    assert got[1]["bm25_rank"] is not None


def test_cli_search_hybrid_requires_query(spark, tmp_path):
    src = str(tmp_path / "docs_hybrid2.parquet")
    spark.createDataFrame(
        [(1, "text", [1.0])], "doc_id long, text string, embedding array<double>",
    ).write.parquet(src)
    with pytest.raises(SystemExit):
        run("search", src, "-v", "q", "--hybrid", "--id-col", "doc_id")
    with pytest.raises(SystemExit):
        run("search", src, "-v", "q", "--hybrid", "--id-col", "doc_id",
            "--query-id", "99")


def test_cli_embed_and_semdedup_text(spark, tmp_path):
    src = str(tmp_path / "docs_embed.parquet")
    spark.createDataFrame(
        [(1, "alpha beta"), (2, "alpha beta"), (3, "gamma delta"), (4, None)],
        "doc_id long, text string",
    ).write.parquet(src)
    out = str(tmp_path / "embedded.parquet")
    run("embed", src, "--dim", "8", "-o", out)
    got = {r["doc_id"]: r["embedding"]
           for r in spark.read.parquet(out).collect()}
    assert got[1] == got[2] != got[3] and got[4] is None
    out2 = str(tmp_path / "semdedup_text.parquet")
    run("cluster", src, "--mode", "semdedup-text", "--id-col", "doc_id",
        "--dim", "8", "-k", "2", "--tau", "0.99", "-o", out2)
    kept = sorted(r["doc_id"] for r in spark.read.parquet(out2).collect())
    assert kept == [1, 3, 4]  # dup 2 dropped; NULL-text row always kept


def test_cli_decontam_semantic(spark, tmp_path):
    src = str(tmp_path / "docs_semdc.parquet")
    spark.createDataFrame(
        [(1, "alpha beta gamma delta"), (2, "delta gamma beta alpha"),
         (3, "totally different content here")],
        "doc_id long, text string",
    ).write.parquet(src)
    ev = str(tmp_path / "eval_semdc.parquet")
    spark.createDataFrame(
        [(9, "alpha beta gamma delta")], "eid long, text string",
    ).write.parquet(ev)
    rep = str(tmp_path / "semdc_report.parquet")
    run("decontam", src, "--eval", ev, "--semantic", "--report",
        "--id-column", "doc_id", "--dim", "16", "-o", rep)
    got = {r["doc_id"]: r["max_cosine"]
           for r in spark.read.parquet(rep).collect()}
    assert got[1] == 1.0 == got[2]  # same bag of words either order
    out = str(tmp_path / "semdc_kept.parquet")
    run("decontam", src, "--eval", ev, "--semantic", "--tau", "0.9",
        "--id-column", "doc_id", "--dim", "16", "-o", out)
    kept = sorted(r["doc_id"] for r in spark.read.parquet(out).collect())
    assert kept == [3]


def test_cli_decontam_scrub(spark, tmp_path):
    src = str(tmp_path / "docs_scrub.parquet")
    spark.createDataFrame(
        [(1, "intro words then a b c d closing remark")],
        "doc_id long, text string",
    ).write.parquet(src)
    ev = str(tmp_path / "eval_scrub.parquet")
    spark.createDataFrame(
        [(9, "quiz a b c d answer")], "eid long, text string",
    ).write.parquet(ev)
    out = str(tmp_path / "scrubbed.parquet")
    run("decontam", src, "--eval", ev, "--scrub", "--ngram", "4",
        "--id-column", "doc_id", "-o", out)
    got = spark.read.parquet(out).collect()[0]
    assert got["text"] == "intro words then closing remark"


def test_cli_delete_upsert_purge(spark, tmp_path, capsys):
    src = str(tmp_path / "src")
    out = str(tmp_path / "enc")
    spark.createDataFrame(
        [(f"https://h{i % 3}.test/p{i}", i, f"body-{i}", "en")
         for i in range(40)],
        "url string, k long, text string, lang string",
    ).coalesce(1).write.parquet(src)
    from nail_parquet_spark.pipeline.checkpoint import encode_resumable

    encode_resumable(spark, src, out)
    capsys.readouterr()

    run("delete", out, "--where", "k>=30", "--note", "trim")
    rep = json.loads(capsys.readouterr().out)
    assert rep["deleted"] == 10 and rep["committed"]

    # merge-on-read decode applies the delete by default
    dec = str(tmp_path / "dec")
    run("decode", out, "-o", dec)
    assert "minus committed deletes" in capsys.readouterr().out
    assert spark.read.parquet(dec).count() == 30

    # --no-deletes gives the raw audit view
    dec2 = str(tmp_path / "dec2")
    run("decode", out, "--no-deletes", "-o", dec2)
    capsys.readouterr()
    assert spark.read.parquet(dec2).count() == 40

    # pushdown + deletes compose
    dec3 = str(tmp_path / "dec3")
    run("decode", out, "--where", "k>=20", "-o", dec3)
    capsys.readouterr()
    assert spark.read.parquet(dec3).count() == 10

    newrows = str(tmp_path / "new")
    spark.createDataFrame(
        [("https://h0.test/p0", 0, "recrawled", "en"),
         ("https://new.test/z", 99, "fresh", "en")],
        "url string, k long, text string, lang string",
    ).write.parquet(newrows)
    run("upsert", out, "--from", newrows, "--key", "url")
    rep = json.loads(capsys.readouterr().out)
    assert rep["inserted"] == 2 and rep["replaced"] == 1

    purged = str(tmp_path / "purged")
    run("purge", out, "-o", purged, "--num-files", "2")
    rep = json.loads(capsys.readouterr().out)
    assert rep["rows_after"] == 31  # 40 - 10 deleted - 1 replaced + 2 new
    from nail_parquet_spark.codec.decode import decode_table

    assert decode_table(spark.read.parquet(purged)).count() == 31


def test_cli_delete_keys(spark, tmp_path, capsys):
    src = str(tmp_path / "src")
    out = str(tmp_path / "enc")
    spark.createDataFrame(
        [(f"https://h.test/p{i}", i, f"body-{i}", "en") for i in range(20)],
        "url string, k long, text string, lang string",
    ).coalesce(1).write.parquet(src)
    from nail_parquet_spark.pipeline.checkpoint import encode_resumable

    encode_resumable(spark, src, out)
    keyfile = str(tmp_path / "takedown.parquet")
    spark.createDataFrame(
        [("https://h.test/p3", "x"), ("https://h.test/p5", "x")],
        "url string, junk string").write.parquet(keyfile)
    capsys.readouterr()
    # --key-columns restricts the key table to the matching columns
    run("delete", out, "--keys", keyfile, "--key-columns", "url",
        "--note", "takedown list")
    rep = json.loads(capsys.readouterr().out)
    assert rep["deleted_keys"] == 2 and rep["eq_cols"] == ["url"]
    dec = str(tmp_path / "dec")
    run("decode", out, "-o", dec)
    capsys.readouterr()
    got = spark.read.parquet(dec)
    assert got.count() == 18
    assert got.filter(got.url == "https://h.test/p3").count() == 0
    # exactly one of --where / --keys
    with pytest.raises(SystemExit):
        run("delete", out)
    with pytest.raises(SystemExit):
        run("delete", out, "--where", "k>=5", "--keys", keyfile)
    capsys.readouterr()


def test_cli_stats_overlap(data, data2, capsys):
    # ungrouped: ids 1..20 vs 1..10 -> jaccard 0.5, intersection 10 (exact,
    # both below k)
    run("stats", data, "-c", "id", "--overlap-with", data2, "--sketch-k",
        "64")
    out = capsys.readouterr().out
    assert "jaccard" in out and "0.5" in out
    # grouped self-overlap: per-category jaccard is exactly 1.0 (keys must
    # exist in BOTH tables, so group against the same file)
    run("stats", data, "-c", "id", "--overlap-with", data,
        "--overlap-column", "id", "--group-by", "category", "--sketch-k",
        "64")
    out = capsys.readouterr().out
    assert "est_intersection" in out and "1.0" in out


def test_cli_split_group(spark, data, tmp_path):
    d = str(tmp_path / "splits")
    run("split", data, "--ratios", "0.7,0.3", "--group-by", "category",
        "--output-dir", d, "--prefix", "g")
    a = spark.read.parquet(os.path.join(d, "g_0.parquet"))
    b = spark.read.parquet(os.path.join(d, "g_1.parquet"))
    ca = {r.category for r in a.select("category").distinct().collect()}
    cb = {r.category for r in b.select("category").distinct().collect()}
    assert not (ca & cb) and a.count() + b.count() == 20


def test_cli_split_group_stratify_conflict(data, tmp_path):
    with pytest.raises(SystemExit):
        main(["split", data, "--group-by", "category",
              "--stratify-by", "category",
              "--output-dir", str(tmp_path / "x")])


def test_cli_frequency_heavy(data, capsys):
    run("frequency", data, "-c", "category", "--heavy", "--limit", "2")
    out = capsys.readouterr().out
    assert "A" in out and "B" in out


def test_cli_quality_dedup_sentences(spark, tmp_path):
    src = str(tmp_path / "docs.parquet")
    spark.createDataFrame(
        [(1, "Buy now! Keep one."), (2, "Buy now! Keep two.")],
        "doc_id long, text string").write.parquet(src)
    out = str(tmp_path / "clean.parquet")
    run("quality", src, "--mode", "dedup-sentences",
        "--id-column", "doc_id", "-o", out)
    got = {r.doc_id: r.text for r in spark.read.parquet(out).collect()}
    assert got == {1: "Buy now! Keep one.", 2: "Keep two."}


def test_cli_domains_url_quality(spark, tmp_path, capsys):
    src = str(tmp_path / "urls.parquet")
    spark.createDataFrame(
        [(1, "https://ok.example.com/page.html"),
         (2, "https://bad.example.com/logo.png")],
        "id long, url string").write.parquet(src)
    out = str(tmp_path / "kept.parquet")
    run("domains", src, "--mode", "url-quality", "--id-column", "id",
        "-o", out)
    kept = spark.read.parquet(out)
    assert [r.id for r in kept.collect()] == [1]
    # audit verdict table via --invert
    run("domains", src, "--mode", "url-quality", "--id-column", "id",
        "--invert")
    assert "passes" in capsys.readouterr().out


def test_cli_stats_quantiles_grouped(data, capsys):
    run("stats", data, "--quantiles", "0.5", "-c", "value",
        "--group-by", "category", "--id-column", "id")
    out = capsys.readouterr().out
    assert "0.5" in out and ("A" in out and "B" in out)


def test_cli_optimize_advise(spark, tmp_path, capsys):
    src = str(tmp_path / "adv.parquet")
    spark.createDataFrame(
        [(i, "en" if i % 3 else "de", float(i) + 0.25) for i in range(500)],
        "id long, lang string, score double").repartition(1).write.parquet(src)
    run("optimize", src, "--advise")
    lines = [json.loads(l) for l in capsys.readouterr().out.splitlines()
             if l.startswith("{")]
    by_col = {r["column"]: r for r in lines}
    assert set(by_col) == {"id", "lang", "score"}
    for r in lines:
        assert r["ratio"] >= 1.0 and r["codec"]
    assert by_col["lang"]["distinct_ratio"] < 0.05
    # dry run: nothing written anywhere
    import glob
    assert not glob.glob(str(tmp_path / "adv.parquet") + "_*")
