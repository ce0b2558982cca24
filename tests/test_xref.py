"""Cross-column reference codec (xref): html-embeds-text web-archive shape.

The value column stores (position, residual) against a reference column
whose bytes occur verbatim inside it; rows where they don't fall back to
storing the whole value — lossless on ANY input.
"""
import numpy as np
import pyarrow as pa
import pytest
from pyspark.sql import functions as F
from hypothesis import HealthCheck, given, settings, strategies as st

from nail_parquet_spark.codec import decode_array, encode_array
from nail_parquet_spark.codec.kernels import EncodedBlock
from nail_parquet_spark.codec.select import xref_upgrade

rng = np.random.default_rng(11)


def _roundtrip(values, refs, typ=pa.binary(), ref_typ=pa.string(), codec="xref:ref:3"):
    va = pa.array(values, typ)
    ra = pa.array(refs, ref_typ)
    blk = encode_array(va, codec, ref_arr=ra)
    blk2 = EncodedBlock.from_parts(blk.header_json(), blk.payload)
    dec = decode_array(blk2, ref_arr=ra)
    assert dec.type == va.type
    assert dec.to_pylist() == va.to_pylist()
    return blk


def test_xref_basic_and_edges():
    text = ["hello world this is document %d body" % i for i in range(200)]
    html = [("<html><p>" + t + "</p></html>").encode() + bytes([255, i % 7])
            for i, t in enumerate(text)]
    text[3] = None                      # null ref -> fallback
    text[4] = ""                        # empty ref -> fallback
    text[5] = "short"                   # under MIN_REF -> fallback
    text[6] = "absent from the value entirely zzzz"
    html[6] = b"<html>unrelated</html>"
    html[7] = None                      # null value
    text[8] = "x" * 400                 # ref longer than value -> fallback
    html[8] = b"tiny"
    blk = _roundtrip(html, text)
    assert blk.header["codec"] == "xref"
    assert blk.header["params"]["ref"] == "ref"
    assert blk.header["params"]["n_matched"] >= 190


def test_xref_beats_zstd_on_web_shape():
    # payload embedded in template + incompressible noise: the xref residual
    # is template+noise only, so it must be much smaller than zstd alone
    text = [" ".join(f"w{rng.integers(0, 500)}" for _ in range(60)) for _ in range(500)]
    noise = [rng.integers(0, 256, 40, dtype=np.uint8).tobytes() for _ in range(500)]
    html = [b"<html><head><title>p</title></head><body>" + t.encode() + b"</body></html>" + nz
            for t, nz in zip(text, noise)]
    xblk = _roundtrip(html, text, codec="xref:text:6")
    zblk = encode_array(pa.array(html, pa.binary()), "zstd:6")
    assert len(xblk.payload) < 0.7 * len(zblk.payload)


def test_xref_multiple_occurrences_first_match_is_lossless():
    # ref occurs twice; codec takes the first occurrence — reconstruction is
    # positionally exact either way
    text = ["abcdefgh" for _ in range(10)]
    html = [b"__abcdefgh--abcdefgh__" for _ in range(10)]
    _roundtrip(html, text)


def test_xref_string_kind_value():
    text = ["payload word soup %d stretched out" % i for i in range(50)]
    page = ["PRE|" + t + "|POST" for t in text]
    _roundtrip(page, text, typ=pa.string())


def test_xref_all_fallback_block():
    vals = [b"aaaa%d" % i for i in range(20)]
    refs = ["completely different %d padding" % i for i in range(20)]
    blk = _roundtrip(vals, refs)
    assert blk.header["params"]["n_matched"] == 0


def test_xref_requires_ref():
    va = pa.array([b"abc"], pa.binary())
    with pytest.raises(ValueError, match="ref_arr"):
        encode_array(va, "xref:text")
    with pytest.raises(ValueError, match="reference column"):
        encode_array(va, "xref:", ref_arr=va)
    blk = encode_array(va, "xref:text", ref_arr=pa.array(["abcdefghij"]))
    with pytest.raises(ValueError, match="ref"):
        decode_array(blk)


_text_cell = st.one_of(
    st.none(),
    st.text(alphabet=st.characters(blacklist_categories=("Cs",)), max_size=40),
)


@settings(max_examples=100, deadline=None,
          suppress_health_check=[HealthCheck.too_slow])
@given(st.lists(st.tuples(_text_cell, st.binary(max_size=20), st.binary(max_size=20),
                          st.booleans()),
                min_size=0, max_size=60))
def test_xref_property(rows):
    """value = pre + ref + post when embed else arbitrary bytes; every shape
    must round-trip bit-identically."""
    refs = [r[0] for r in rows]
    vals = []
    for ref, pre, post, embed in rows:
        if ref is None:
            vals.append(pre + post)
        elif embed:
            vals.append(pre + ref.encode("utf-8") + post)
        else:
            vals.append(pre)
    _roundtrip(vals, refs)


def test_xref_upgrade_picks_ref_and_respects_pins():
    text = [" ".join(f"w{rng.integers(0, 500)}" for _ in range(60)) for _ in range(512)]
    noise = [rng.integers(0, 256, 40, dtype=np.uint8).tobytes() for _ in range(512)]
    html = [b"<html><body>" + t.encode() + b"</body></html>" + nz
            for t, nz in zip(text, noise)]
    arrs = {
        "html": pa.array(html, pa.binary()),
        "text": pa.array(text, pa.string()),
        "lang": pa.array(["en"] * 512, pa.string()),
    }
    chosen = xref_upgrade(arrs, {"html": "zstd:6", "text": "zstd:6", "lang": "dict"})
    assert chosen["html"].startswith("xref:text")
    assert chosen["text"] == "zstd:6"  # refs stay independent
    # pinned columns are untouched when upgradable excludes them
    chosen2 = xref_upgrade(
        arrs, {"html": "zstd:6", "text": "zstd:6", "lang": "dict"},
        upgradable=["lang"],
    )
    assert chosen2["html"] == "zstd:6"


def test_xref_end_to_end_subset_decode(spark, tmp_path):
    """Encode the web table with html xref'd against text, then decode ONLY
    html — the decoder must pull the text blocks in automatically and still
    reproduce html bit-identically."""
    from nail_parquet_spark.codec.decode import (
        decode_parquet_dir, decode_table, verify_roundtrip,
    )
    from nail_parquet_spark.codec.encode import encode_parquet_dir
    from nail_parquet_spark.synth import webpages_spark

    src = str(tmp_path / "pages")
    webpages_spark(spark, 8_000, seed=7, n_parts=2).write.parquet(src)
    codecs = {"url": "zstd", "warc_ts": "for_bitpack", "html": "xref:text:3",
              "text": "zstd", "lang": "dict"}
    enc_dir = str(tmp_path / "enc")
    encode_parquet_dir(spark, src, enc_dir, codecs=codecs).collect()
    dec = decode_table(spark.read.parquet(enc_dir), columns=["url", "html"])
    assert dec.columns == ["url", "html"]
    res = verify_roundtrip(
        spark.read.parquet(src).select("url", "html"), dec, key="url")
    assert res["joined_rows"] == 8_000 and res["total_mismatches"] == 0

    # shuffle-free dir decode, html-only subset
    out_dir = str(tmp_path / "dec")
    decode_parquet_dir(spark, enc_dir, out_dir, columns=["url", "html"]).collect()
    back = spark.read.parquet(out_dir)
    assert back.columns == ["url", "html"]
    res = verify_roundtrip(
        spark.read.parquet(src).select("url", "html"), back, key="url")
    assert res["joined_rows"] == 8_000 and res["total_mismatches"] == 0


def test_xref_codec_validation(spark, tmp_path):
    from nail_parquet_spark.codec.encode import encode_table
    from nail_parquet_spark.synth import webpages_spark

    df = webpages_spark(spark, 100, seed=7, n_parts=1)
    with pytest.raises(ValueError, match="not among the encoded columns"):
        encode_table(df, columns=["html"], codecs={"html": "xref:text"}).collect()
    with pytest.raises(ValueError, match="chain"):
        encode_table(
            df, columns=["html", "text", "url"],
            codecs={"html": "xref:text", "text": "xref:url", "url": "zstd"},
        ).collect()


def test_xref_mixed_codec_batches_decode(spark, tmp_path):
    """A resumable out_dir can mix batches encoded by different jobs — e.g.
    html as plain zstd in old batches and xref in new ones. Subset decode of
    html must still pull the text blocks (the header closure looks at every
    (column, codec) pair, not just the first header)."""
    from nail_parquet_spark.codec.decode import decode_table, verify_roundtrip
    from nail_parquet_spark.codec.encode import encode_parquet_dir
    from nail_parquet_spark.synth import webpages_spark

    src = str(tmp_path / "pages")
    webpages_spark(spark, 4_000, seed=13, n_parts=2).write.parquet(src)
    import glob as _glob

    files = sorted(_glob.glob(src + "/*.parquet"))
    enc = str(tmp_path / "enc")
    base = {"url": "zstd", "warc_ts": "for_bitpack", "text": "zstd", "lang": "dict"}
    encode_parquet_dir(spark, [files[0]], enc + "/batch=old",
                       codecs={**base, "html": "zstd"}).collect()
    encode_parquet_dir(spark, files[1:], enc + "/batch=new",
                       codecs={**base, "html": "xref:text:3"}).collect()
    # both jobs restart part_id at 0 — decode_table's (file, part_id,
    # block_id) group key must keep their equal-numbered blocks apart
    blocks = spark.read.parquet(enc + "/batch=old", enc + "/batch=new")
    dec = decode_table(blocks, columns=["url", "html"])
    res = verify_roundtrip(
        spark.read.parquet(src).select("url", "html"), dec, key="url")
    assert res["joined_rows"] == 4_000 and res["total_mismatches"] == 0


def test_xref_upgrade_never_forms_chains():
    """html embeds text embeds title: upgrading html->xref:text must lock
    text as a reference so it is never itself upgraded to xref:title."""
    title = [f"section header {i} of the document" for i in range(400)]
    text = [f"{t} with a longer body {' '.join(f'w{j}' for j in range(40))}"
            for i, t in enumerate(title)]
    html = [f"<html><body>{x}</body></html>" for x in text]
    arrs = {
        "html": pa.array(html, pa.string()),
        "text": pa.array(text, pa.string()),
        "title": pa.array(title, pa.string()),
    }
    chosen = xref_upgrade(arrs, {"html": "zstd:6", "text": "zstd:6", "title": "zstd:6"})
    from nail_parquet_spark.codec.encode import _validate_codecs

    _validate_codecs(chosen, list(arrs))  # must not raise (no chains)
    refs = {c for cd in chosen.values() if cd.startswith("xref")
            for c in [cd.split(":")[1]]}
    for r in refs:
        assert not chosen[r].startswith("xref"), chosen


def test_xref_different_refs_across_batches(spark, tmp_path):
    """Two jobs xref the same column against DIFFERENT references; subset
    decode must pull BOTH reference columns (closure reads every
    (column, codec, ref) header, not just the first)."""
    from nail_parquet_spark.codec.decode import decode_table, verify_roundtrip
    from nail_parquet_spark.codec.encode import encode_parquet_dir
    from nail_parquet_spark.synth import webpages_spark

    src = str(tmp_path / "pages")
    webpages_spark(spark, 4_000, seed=17, n_parts=2).write.parquet(src)
    import glob as _glob

    files = sorted(_glob.glob(src + "/*.parquet"))
    enc = str(tmp_path / "enc")
    base = {"warc_ts": "for_bitpack", "lang": "dict"}
    # url embeds... nothing; use text as ref in one batch and url in the
    # other (url is embedded in html? no — but xref falls back per row, so
    # the second batch simply stores whole values; the closure still needs
    # url blocks to decode those groups)
    encode_parquet_dir(spark, [files[0]], enc + "/batch=a",
                       codecs={**base, "url": "zstd", "text": "zstd",
                               "html": "xref:text:3"}).collect()
    encode_parquet_dir(spark, files[1:], enc + "/batch=b",
                       codecs={**base, "url": "zstd", "text": "zstd",
                               "html": "xref:url:3"}).collect()
    blocks = spark.read.parquet(enc + "/batch=a", enc + "/batch=b")
    dec = decode_table(blocks, columns=["url", "html"])
    res = verify_roundtrip(
        spark.read.parquet(src).select("url", "html"), dec, key="url")
    assert res["joined_rows"] == 4_000 and res["total_mismatches"] == 0


def test_decode_heterogeneous_column_sets(spark, tmp_path):
    """Batches encoded with different COLUMN SETS: requesting a column every
    batch has must decode all groups (completeness is per group, not a
    global column count)."""
    from nail_parquet_spark.codec.decode import decode_table
    from nail_parquet_spark.codec.encode import encode_parquet_dir
    from nail_parquet_spark.synth import webpages_spark

    src = str(tmp_path / "pages")
    webpages_spark(spark, 3_000, seed=19, n_parts=2).write.parquet(src)
    import glob as _glob

    files = sorted(_glob.glob(src + "/*.parquet"))
    enc = str(tmp_path / "enc")
    encode_parquet_dir(spark, [files[0]], enc + "/batch=a",
                       columns=["url", "text"],
                       codecs={"url": "zstd", "text": "zstd"}).collect()
    encode_parquet_dir(spark, files[1:], enc + "/batch=b",
                       columns=["url", "text", "lang"],
                       codecs={"url": "zstd", "text": "zstd", "lang": "dict"}).collect()
    blocks = spark.read.parquet(enc + "/batch=a", enc + "/batch=b")
    got = decode_table(blocks, columns=["url", "text"])
    assert got.count() == 3_000
    # requesting a column only SOME batches carry fails loudly, not silently
    with pytest.raises(Exception, match="missing requested columns"):
        decode_table(blocks, columns=["url", "lang"]).count()


def test_encode_table_pinned_column_can_be_ref(spark):
    """A pinned text codec must still be visible to the xref upgrade as a
    reference for the auto-selected html column."""
    from nail_parquet_spark.codec.encode import choose_codecs_for_df
    from nail_parquet_spark.synth import webpages_spark

    df = webpages_spark(spark, 3_000, seed=23, n_parts=1)
    chosen = choose_codecs_for_df(df, ["html"], pinned={"text": "zstd:6"},
                                  min_mbps=120.0)
    assert chosen["html"].startswith("xref:text"), chosen
    assert list(chosen) == ["html"]  # pinned entries are not returned


def test_dataframe_and_parquet_samplers_agree(spark, tmp_path):
    """Both samplers feed the one planner: on a single-row-group file they
    see the same rows, so choose_codecs_for_df and encode_parquet_dir pick
    the same codecs, with pinned text offered to html as a reference. The
    block ``codec`` column drops levels and references, so the headers
    (codec, level, reference, sizes) are compared against an encode with
    the DataFrame sampler's choices pinned."""
    import pyarrow.parquet as pq

    from nail_parquet_spark.codec.encode import choose_codecs_for_df, encode_parquet_dir
    from nail_parquet_spark.synth import make_webpages_batch

    p = str(tmp_path / "pages.parquet")
    pq.write_table(pa.Table.from_batches([make_webpages_batch(23, 0, 4_000)]), p)
    assert pq.ParquetFile(p).metadata.num_row_groups == 1
    pinned = {"text": "zstd:6", "warc_ts": "delta_bitpack"}
    df = spark.read.parquet(p)
    chosen = choose_codecs_for_df(df, [c for c in df.columns if c not in pinned],
                                  pinned=pinned)
    assert chosen["html"].startswith("xref:text"), chosen

    def headers(codecs, name):
        out = str(tmp_path / name)
        encode_parquet_dir(spark, p, out, codecs=codecs).collect()
        rows = spark.read.parquet(out).select("column", "header").collect()
        assert len(rows) == 5  # one block per column
        return {r["column"]: r["header"] for r in rows}

    assert headers(pinned, "auto") == headers({**chosen, **pinned}, "forced")


def test_dataframe_sampler_is_one_task_limit(spark, tmp_path, monkeypatch):
    """``_sample_df`` returns the rows of a plain ``limit(n)`` collect (the
    oracle) in one job of one stage and one task, and a filtered frame
    with fewer than ``n`` rows whole."""
    import pyarrow.parquet as pq

    from nail_parquet_spark.codec import encode
    from nail_parquet_spark.synth import make_webpages_batch

    src = tmp_path / "pages"
    src.mkdir()
    for i, n_rows in enumerate([700, 500, 900]):
        pq.write_table(pa.Table.from_batches(
            [make_webpages_batch(40 + i, 0, n_rows)]), str(src / f"p{i}.parquet"))
    df = spark.read.parquet(str(src))
    assert df.rdd.getNumPartitions() >= 3
    # more rows than the largest file: the sample spans two partitions
    monkeypatch.setattr(encode, "SAMPLE_ROWS", 1_200)
    cols, pinned = ["url", "lang"], {"warc_ts": "for_bitpack"}

    sc = spark.sparkContext
    sc.setJobGroup("sample-df-test", "sampler cost")
    try:
        got = encode._sample_df(df, cols, pinned)
    finally:
        sc.setJobGroup("", "")
    tracker = sc.statusTracker()
    jobs = tracker.getJobIdsForGroup("sample-df-test")
    stages = [s for j in jobs for s in tracker.getJobInfo(j).stageIds]
    assert len(jobs) == 1 and len(stages) == 1
    assert tracker.getStageInfo(stages[0]).numTasks == 1

    want = df.select("url", "lang", "warc_ts").limit(1_200).toArrow()
    assert list(got) == ["url", "lang", "warc_ts"]
    for c in got:
        assert got[c].equals(want.column(c).combine_chunks()), c

    few = df.filter(F.col("lang") == "de")
    n_few = few.count()
    assert 0 < n_few < 1_200
    got = encode._sample_df(few, cols, pinned)
    want = few.select("url", "lang", "warc_ts").limit(1_200).toArrow()
    assert all(len(a) == n_few for a in got.values())
    for c in got:
        assert got[c].equals(want.column(c).combine_chunks()), c


def test_compact_blocks_rekeys_and_preserves_groups(spark, tmp_path):
    """Compaction merges many small block files from SEVERAL encode jobs
    (colliding part ids) into few files with globally unique group ids and
    whole groups per file — decodable afterwards under any grouping mode."""
    from nail_parquet_spark.codec.compact import compact_blocks
    from nail_parquet_spark.codec.decode import (
        decode_parquet_dir, decode_table, verify_roundtrip,
    )
    from nail_parquet_spark.codec.encode import encode_parquet_dir
    from nail_parquet_spark.synth import webpages_spark

    src = str(tmp_path / "pages")
    webpages_spark(spark, 4_000, seed=29, n_parts=2).write.parquet(src)
    import glob as _glob

    files = sorted(_glob.glob(src + "/*.parquet"))
    enc = str(tmp_path / "enc")
    codecs = {"url": "zstd", "warc_ts": "for_bitpack", "html": "xref:text:3",
              "text": "zstd", "lang": "dict"}
    encode_parquet_dir(spark, [files[0]], enc + "/batch=a", codecs=codecs).collect()
    encode_parquet_dir(spark, files[1:], enc + "/batch=b", codecs=codecs).collect()

    cdir = str(tmp_path / "compacted")
    compact_blocks(spark.read.parquet(enc + "/batch=a", enc + "/batch=b"),
                   cdir, num_files=3)
    compacted = spark.read.parquet(cdir)
    # group ids are now globally unique: no two distinct groups share a key
    n_groups = compacted.select("part_id", "block_id").distinct().count()
    per_group = compacted.groupBy("part_id", "block_id").count().collect()
    assert all(r["count"] == 5 for r in per_group), per_group  # 5 columns each
    assert n_groups == compacted.count() // 5

    # decodes with AND without file-keyed grouping
    want = spark.read.parquet(src)
    for kw in ({"file_keyed": True}, {"file_keyed": False}):
        dec = decode_table(compacted, columns=want.columns, **kw)
        res = verify_roundtrip(want, dec, key="url")
        assert res["joined_rows"] == 4_000 and res["total_mismatches"] == 0
    # shuffle-free per-file decode still works (whole groups per file)
    out = str(tmp_path / "dec")
    decode_parquet_dir(spark, cdir, out).collect()
    res = verify_roundtrip(want, spark.read.parquet(out), key="url")
    assert res["joined_rows"] == 4_000 and res["total_mismatches"] == 0


def test_encode_skips_hidden_and_temp_paths(spark, tmp_path):
    """Aborted-write leftovers (_temporary task dirs, dot-files) must not be
    encoded as rows — matching Spark's own hidden-path convention."""
    import os
    import shutil as _shutil

    from nail_parquet_spark.codec.encode import encode_parquet_dir
    from nail_parquet_spark.sources.io import list_parquet_files
    from nail_parquet_spark.synth import webpages_spark

    src = str(tmp_path / "pages")
    webpages_spark(spark, 1_000, seed=37, n_parts=1).write.parquet(src)
    import glob as _glob

    real = _glob.glob(src + "/*.parquet")[0]
    os.makedirs(src + "/_temporary/0")
    _shutil.copy(real, src + "/_temporary/0/stale.parquet")
    _shutil.copy(real, src + "/.hidden.parquet")
    assert list_parquet_files(src) == [real]
    enc = str(tmp_path / "enc")
    encode_parquet_dir(
        spark, src, enc, codecs={"url": "zstd", "warc_ts": "for_bitpack",
                                 "html": "zstd", "text": "zstd", "lang": "dict"}).collect()
    blocks = spark.read.parquet(enc)
    n = blocks.filter(F.col("column") == "url").agg(F.sum("n_rows")).collect()[0][0]
    assert n == 1_000  # stale copies not double-counted


def test_compact_blocks_refuses_overlapping_out_dir(spark, tmp_path):
    """mode('overwrite') into the directory backing the input scan can lose
    the table mid-job (ADVICE r3) — the overlap must be refused."""
    import pytest

    from nail_parquet_spark.codec.compact import compact_blocks
    from nail_parquet_spark.codec.encode import encode_parquet_dir
    from nail_parquet_spark.synth import webpages_spark

    src = str(tmp_path / "pages")
    webpages_spark(spark, 500, seed=41, n_parts=1).write.parquet(src)
    enc = str(tmp_path / "enc")
    codecs = {"url": "zstd", "warc_ts": "for_bitpack", "html": "zstd",
              "text": "zstd", "lang": "dict"}
    encode_parquet_dir(spark, src, enc + "/batch=a", codecs=codecs).collect()
    blocks = spark.read.parquet(enc + "/batch=a")
    with pytest.raises(ValueError, match="overlaps"):
        compact_blocks(blocks, enc + "/batch=a", num_files=1)
    with pytest.raises(ValueError, match="overlaps"):
        compact_blocks(blocks, enc, num_files=1)  # parent of the input files


def test_encode_scan_side_hive_partition_columns(spark, tmp_path):
    """Hive key=value partition directories are MATERIALIZED as per-file
    constant columns by the scan-side encode (matching spark.read.parquet —
    ADVICE r3 medium: the footer-based reader would otherwise silently drop
    them), and round-trip bit-identically through decode."""
    from nail_parquet_spark.codec.decode import decode_table, verify_roundtrip
    from nail_parquet_spark.codec.encode import encode_parquet_dir
    from nail_parquet_spark.synth import webpages_spark

    src = str(tmp_path / "parts")
    want = webpages_spark(spark, 500, seed=43, n_parts=1)
    want.write.partitionBy("lang").parquet(src)
    codecs = {"url": "zstd", "warc_ts": "for_bitpack", "html": "zstd", "text": "zstd"}
    encode_parquet_dir(spark, src, str(tmp_path / "enc"), codecs=codecs).collect()
    blocks = spark.read.parquet(str(tmp_path / "enc")).cache()
    # lang exists only in directory names yet is encoded (rle constants)
    assert blocks.filter(F.col("column") == "lang").count() > 0
    dec = decode_table(blocks, columns=["url", "warc_ts", "html", "text", "lang"])
    res = verify_roundtrip(spark.read.parquet(src), dec, key="url")
    assert res["joined_rows"] == 500 and res["total_mismatches"] == 0
    # explicit column subsets may name partition columns directly
    encode_parquet_dir(spark, src, str(tmp_path / "sub"), columns=["url", "lang"],
                       codecs={"url": "zstd", "lang": "rle"}).collect()
    got = decode_table(spark.read.parquet(str(tmp_path / "sub")),
                       columns=["url", "lang"])
    wanted = {(r["url"], r["lang"]) for r in want.select("url", "lang").collect()}
    assert {(r["url"], r["lang"]) for r in got.collect()} == wanted
    blocks.unpersist()


def test_hive_partition_value_parsing(spark, tmp_path):
    """URL-encoded partition values and the __HIVE_DEFAULT_PARTITION__ NULL
    sentinel must parse the way spark.read.parquet parses them; files
    missing a key get NULL."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    from nail_parquet_spark.codec.decode import decode_table
    from nail_parquet_spark.codec.encode import (
        _hive_partition_values,
        encode_parquet_dir,
    )

    assert _hive_partition_values("date=2024-01-01/lang=en%20us") == {
        "date": "2024-01-01", "lang": "en us"}
    assert _hive_partition_values("k=__HIVE_DEFAULT_PARTITION__") == {"k": None}
    assert _hive_partition_values("_hidden=x/.dot=y") == {}

    root = str(tmp_path / "mixed")
    t = pa.table({"v": pa.array([1, 2], pa.int64())})
    os.makedirs(root + "/k=a%20b")
    os.makedirs(root + "/k=__HIVE_DEFAULT_PARTITION__")
    pq.write_table(t, root + "/k=a%20b/f1.parquet")
    pq.write_table(t, root + "/k=__HIVE_DEFAULT_PARTITION__/f2.parquet")
    enc = str(tmp_path / "enc")
    encode_parquet_dir(spark, root, enc, codecs={"v": "plain", "k": "rle"}).collect()
    blocks = spark.read.parquet(enc)
    got = {(r["v"], r["k"]) for r in decode_table(blocks, columns=["v", "k"]).collect()}
    assert got == {(1, "a b"), (2, "a b"), (1, None), (2, None)}


def test_hive_partition_type_inference(spark, tmp_path):
    """Partition values that all parse as integers materialize as long
    columns (double if only floats parse; string otherwise; one non-numeric
    value anywhere demotes the whole key) — matching spark.read.parquet's
    partitionColumnTypeInference for the long/double branches."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    from nail_parquet_spark.codec.decode import decode_table
    from nail_parquet_spark.codec.encode import (
        _infer_partition_type,
        encode_parquet_dir,
    )

    assert _infer_partition_type(["1", "42", None]) == "long"
    assert _infer_partition_type(["00123", "-7"]) == "long"  # Long.parseLong parity
    assert _infer_partition_type(["1.5", "2"]) == "double"
    assert _infer_partition_type(["1", "x"]) == "string"
    assert _infer_partition_type([None]) == "string"
    # int64 overflow -> decimal(p,0) with Spark's max-digit precision
    assert _infer_partition_type([str(2**70)]) == "decimal(22,0)"
    assert _infer_partition_type([str(2**70), "5"]) == "decimal(22,0)"
    assert _infer_partition_type(["9" * 39]) == "string"  # > decimal(38)
    # strict literal regexes (ADVICE r4): Python-isms must NOT parse
    assert _infer_partition_type(["1_5"]) == "string"
    assert _infer_partition_type([" 1"]) == "string"
    assert _infer_partition_type(["inf"]) == "string"
    assert _infer_partition_type(["nan"]) == "string"
    assert _infer_partition_type(["0x10"]) == "string"
    # dates (Spark's date branch); invalid calendar dates fall to string
    assert _infer_partition_type(["2021-04-05", "1999-12-31"]) == "date"
    assert _infer_partition_type(["2021-04-05", "1.5"]) == "string"
    assert _infer_partition_type(["2021-02-30"]) == "string"

    root = str(tmp_path / "typed")
    t = pa.table({"v": pa.array([1, 2], pa.int64())})
    for part in ["year=2023/score=1.5", "year=2024/score=2",
                 "year=__HIVE_DEFAULT_PARTITION__/score=3"]:
        os.makedirs(os.path.join(root, part))
        pq.write_table(t, os.path.join(root, part, "f.parquet"))
    enc = str(tmp_path / "enc")
    encode_parquet_dir(
        spark, root, enc, codecs={"v": "plain"}).collect()  # partition codecs auto-selected
    blocks = spark.read.parquet(enc)
    dec = decode_table(blocks, columns=["v", "year", "score"])
    schema = {f.name: f.dataType.simpleString() for f in dec.schema.fields}
    assert schema["year"] == "bigint" and schema["score"] == "double"
    got = {(r["year"], r["score"]) for r in dec.collect()}
    assert got == {(2023, 1.5), (2024, 2.0), (None, 3.0)}
    # matches what spark.read.parquet infers for the same layout (module
    # the int32-vs-int64 width choice, compared via casted values)
    sp = spark.read.parquet(root).selectExpr(
        "CAST(year AS BIGINT) AS year", "CAST(score AS DOUBLE) AS score")
    assert {(r["year"], r["score"]) for r in sp.collect()} == got


def test_hive_partition_decimal_date_parity(spark, tmp_path):
    """Spark-parity for the decimal and date partition branches (VERDICT r4
    #7): int64-overflow directories materialize as decimal(p,0) and
    yyyy-MM-dd directories as date, with the SAME schema and values as
    spark.read.parquet on the identical layout. The decimal constant rides
    the ipc_zstd kernel fallback (kind 'other'); date32 uses the int rle
    kernel."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    from nail_parquet_spark.codec.decode import decode_table
    from nail_parquet_spark.codec.encode import encode_parquet_dir

    root = str(tmp_path / "decdate")
    t = pa.table({"v": pa.array([1, 2], pa.int64())})
    big = str(2**70)
    for part in [f"big={big}/day=2021-04-05", "big=5/day=1999-12-31"]:
        os.makedirs(os.path.join(root, part))
        pq.write_table(t, os.path.join(root, part, "f.parquet"))

    enc = str(tmp_path / "enc")
    encode_parquet_dir(spark, root, enc, codecs={"v": "plain"}).collect()
    dec = decode_table(spark.read.parquet(enc), columns=["v", "big", "day"])
    schema = {f.name: f.dataType.simpleString() for f in dec.schema.fields}
    sp = spark.read.parquet(root)
    sp_schema = {f.name: f.dataType.simpleString() for f in sp.schema.fields}
    assert schema["big"] == sp_schema["big"] == "decimal(22,0)"
    assert schema["day"] == sp_schema["day"] == "date"
    ours = {(r["v"], r["big"], r["day"]) for r in dec.collect()}
    theirs = {(r["v"], r["big"], r["day"]) for r in sp.collect()}
    assert ours == theirs and len(ours) == 4
