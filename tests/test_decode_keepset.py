"""Pruned reads decode exactly the index's keep-set, from the source the
plan picks: a bare scan of local block files one task per file with no
Exchange, every other frame through the shuffle. Both sources give the
same answers and the same row coordinates."""
import hashlib
import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from nail_parquet_spark.codec import decode
from nail_parquet_spark.codec.blockindex import BlockIndex
from nail_parquet_spark.codec.decode import (_decode, decode_semijoin,
                                             decode_table,
                                             decode_table_where_all,
                                             decode_topk, decode_topk_by,
                                             read_blocks)
from nail_parquet_spark.codec.deletes import positions_where
from nail_parquet_spark.codec.encode import encode_parquet_dir, encode_table
from nail_parquet_spark.codec.inspect import (count_where_pushdown,
                                              encoding_usage,
                                              metadata_summary)
from nail_parquet_spark.synth import make_webpages_batch


def _shuffles(df) -> bool:
    return "Exchange" in df._jdf.queryExecution().executedPlan().toString()


def _rows(rows, cols):
    return sorted((tuple(r[c] for c in cols) for r in rows), key=repr)


# ---- job counts on a bare scan of a multi-file encoded dir ---------------

@pytest.fixture(scope="module")
def pages(spark, tmp_path_factory):
    root = tmp_path_factory.mktemp("keepset")
    src = root / "src"
    src.mkdir()
    for i in range(4):
        t = pa.Table.from_batches([make_webpages_batch(80 + i, i * 300, 300)])
        pq.write_table(t, str(src / f"p{i}.parquet"))
    enc = str(root / "enc")
    encode_parquet_dir(spark, str(src), enc, block_rows=100,
                       bloom_columns=["url"]).collect()
    blocks = read_blocks(spark, enc)
    assert len(blocks.inputFiles()) > 1
    return spark.read.parquet(str(src)), blocks


def test_pruned_reads_of_a_bare_scan_run_one_map_stage(spark, pages,
                                                        count_jobs):
    src, blocks = pages
    cols = ["url", "warc_ts", "lang", "text"]
    urls = [r["url"] for r in src.orderBy("url").select("url").collect()]
    u = urls[123]

    got, jobs = count_jobs(lambda: decode_table_where_all(
        blocks, [("url", "=", u)]).collect())
    assert jobs == 1
    assert _rows(got, cols) == _rows(src.filter(F.col("url") == u).collect(),
                                     cols)

    got, jobs = count_jobs(lambda: decode_topk(blocks, "url", 10).collect())
    assert jobs == 1
    assert [r["url"] for r in got] == urls[::-1][:10]

    cut = src.select(F.percentile_approx("warc_ts", 0.5)).first()[0]
    got, jobs = count_jobs(lambda: count_where_pushdown(
        blocks, "warc_ts", ">=", cut))
    assert got["groups_decoded"] > 0 and jobs == 1
    assert got["count"] == src.filter(F.col("warc_ts") >= F.lit(cut)).count()

    keys = urls[::24][:50]
    probe = spark.createDataFrame([(k,) for k in keys], "url string")
    got, jobs = count_jobs(lambda: decode_semijoin(
        blocks, probe, "url").collect())
    assert jobs <= 4
    assert _rows(got, cols) == _rows(
        src.filter(F.col("url").isin(keys)).collect(), cols)

    got, jobs = count_jobs(lambda: metadata_summary(blocks).collect())
    assert jobs <= 2
    assert [r["column"] for r in got] == sorted(r["column"] for r in got)


def test_other_frames_of_the_table_still_shuffle(spark, pages):
    _, blocks = pages
    u = blocks.filter(F.col("column") == "url").select("min_val").first()[0]
    assert not _shuffles(decode_table_where_all(blocks, [("url", "=", u)]))
    # a read_blocks frame cached after its plan was optimized (inputFiles()
    # optimizes it) reads the cache, as a new cached frame does
    scanned = read_blocks(spark, *{os.path.dirname(f[len("file:"):])
                                   for f in blocks.inputFiles()})
    assert not _shuffles(decode_topk(scanned, "url", 3))
    scanned.cache()
    cached = blocks.select("*").cache()
    try:
        for frame in (scanned, cached, blocks.filter(F.col("n_rows") >= 0)):
            assert _shuffles(decode_table_where_all(frame, [("url", "=", u)]))
            assert _shuffles(decode_topk(frame, "url", 3))
    finally:
        scanned.unpersist()
        cached.unpersist()
    assert not _shuffles(decode_topk(scanned, "url", 3))


def test_summaries_keep_their_order(spark, pages):
    _, blocks = pages
    meta = metadata_summary(blocks).collect()
    assert [r["column"] for r in meta] == sorted(
        ["url", "warc_ts", "html", "text", "lang"])
    usage = [(r["column"], r["codec"]) for r in encoding_usage(blocks).collect()]
    assert usage == sorted(usage)


# ---- the two sources give the same answers --------------------------------

def _source_table(prefix: str, n: int, words: int) -> pa.Table:
    def text(i):
        return " ".join(hashlib.md5(f"{prefix}{i}:{j}".encode()).hexdigest()
                        for j in range(words))

    return pa.table({
        "url": [f"https://{prefix}.example/{i:05d}" for i in range(n)],
        "n": pa.array([(i * 37) % 1000 for i in range(n)], pa.int64()),
        "lang": [("en", "de", "fr")[(i // 7) % 3] for i in range(n)],
        "text": [text(i) for i in range(n)],
    })


@pytest.fixture(scope="module")
def batches(spark, tmp_path_factory):
    """Three encode jobs under a dir whose path has a space, ``%`` and
    non-ASCII characters, as the batch dirs of a resumable out_dir lay
    them out: each job restarts part ids at 0, so the batch dirs reuse
    the same (part_id, block_id) groups. The third batch's file is
    several times larger than the others."""
    root = tmp_path_factory.mktemp("keepset") / "kept dir %41 é"
    src = root.parent / "src"
    src.mkdir()
    tables = []
    for i, (prefix, n, words) in enumerate([("a", 300, 4), ("b", 300, 4),
                                            ("c", 300, 60)]):
        t = _source_table(prefix, n, words)
        pq.write_table(t, str(src / f"{prefix}.parquet"))
        encode_parquet_dir(spark, str(src / f"{prefix}.parquet"),
                           str(root / f"batch={i}"), block_rows=50).collect()
        tables.append(t)
    blocks = read_blocks(spark, str(root), recursiveFileLookup=True,
                         pathGlobFilter="*.parquet")
    files = sorted(blocks.inputFiles())
    assert len(files) == 3 and all("%25" in f for f in files)
    sizes = [os.path.getsize(decode._local_path(f)) for f in files]
    assert sizes[2] > 2 * max(sizes[:2])
    split = (sizes[2] + max(sizes[:2])) // 2
    return pa.concat_tables(tables), blocks, split


def _both(blocks):
    """The bare scan (per-file source) and the same table behind a no-op
    filter (shuffle source)."""
    return blocks, blocks.filter(F.col("n_rows") >= 0)


@pytest.fixture(params=["all_fit", "one_over_split"])
def split(request, spark, batches):
    """Each test below runs with every file fitting a read split, and with
    the largest file over it, which makes reads of that file shuffle."""
    if request.param == "all_fit":
        yield None
        return
    spark.conf.set("spark.sql.files.maxPartitionBytes", str(batches[2]))
    try:
        yield batches[2]
    finally:
        spark.conf.unset("spark.sql.files.maxPartitionBytes")


COLS = ["url", "n", "lang", "text"]


def test_positions_are_equal_on_both_sources(spark, batches, split):
    _, blocks, _ = batches
    bare, other = _both(blocks)
    full = decode_table(bare, with_positions=True)
    assert _shuffles(full) == (split is not None)
    assert _shuffles(decode_table(other, with_positions=True))
    cols = COLS + decode.POS_COLUMNS
    got = _rows(full.collect(), cols)
    assert got == _rows(decode_table(other, with_positions=True).collect(),
                        cols)
    # _src_file is the URI inputFiles() lists, percent-encoding and all
    assert {r[4] for r in got} == set(blocks.inputFiles())


@pytest.mark.parametrize("literal_keys", [decode._LITERAL_KEYS, 0])
def test_keep_set_decodes_only_its_groups(spark, batches, split, monkeypatch,
                                          literal_keys):
    # a key set over the literal cap takes the broadcast semi-join
    monkeypatch.setattr(decode, "_LITERAL_KEYS", literal_keys)
    src, blocks, _ = batches
    a_url = src.column("url")[75].as_py()  # batch 0, group (0, 1)
    keeps = []
    for frame in _both(blocks):
        idx = BlockIndex.load(frame)
        keep = idx.keep([[("url", "=", a_url)]])
        assert len(keep) == 1 and next(iter(keep))[1:] == (0, 1)
        # every batch has a group (0, 1); only the kept file's is decoded
        assert sum(b.key[1:] == (0, 1) for b in idx.blocks["url"]) == 3
        dec = _decode(frame, idx.headers, idx.refs, idx.files, ["url"],
                      with_positions=True, keep=keep)
        got = {tuple(r) for r in dec.select(*decode.POS_COLUMNS[:3])
               .distinct().collect()}
        assert got == keep
        keeps.append(keep)
    # the driver's and Spark's index reads name the file alike
    assert keeps[0] == keeps[1]


def test_taken_rows_keep_their_positions(spark, batches, split):
    _, blocks, _ = batches
    idx = BlockIndex.load(blocks)
    full = decode_table(blocks, ["url"], with_positions=True)
    key = sorted(idx.keep([[("url", "=", "https://b.example/00120")]]))[0]
    group = {r["_pos"]: r["url"] for r in full.collect()
             if (r["_src_file"], r["_part_id"], r["_block_id"]) == key}
    got = _decode(blocks, idx.headers, idx.refs, idx.files, ["url"],
                  with_positions=True, keep={key}, take={key: [7, 2, 40]})
    assert [(r["_pos"], r["url"]) for r in got.collect()] == [
        (p, group[p]) for p in (7, 2, 40)]


def test_pruned_reads_agree_across_sources(spark, batches, split):
    src, blocks, _ = batches
    urls = src.column("url").to_pylist()
    picks = [urls[7], urls[310], urls[750], "https://zz.example/none"]
    want_src = spark.createDataFrame(src.to_pylist(),
                                     "url string, n long, lang string, "
                                     "text string")

    def answers(frame):
        out = {}
        for u in picks:
            out["where", u] = _rows(decode_table_where_all(
                frame, [("url", "=", u)]).collect(), COLS)
            out["pos", u] = _rows(positions_where(
                frame, [("url", "=", u)]).collect(), decode.POS_COLUMNS)
        out["range"] = _rows(decode_table_where_all(
            frame, [[("n", ">=", 990), ("url", "<", "https://a.example/00003")]]
        ).collect(), COLS)
        out["topk"] = [tuple(r) for r in decode_topk(
            frame, "n", 9, tiebreak="url").collect()]
        out["topk_by"] = _rows(decode_topk_by(
            frame, "lang", "n", 4, tiebreak="url").collect(), COLS)
        out["count"] = count_where_pushdown(frame, "n", ">=", 500)
        probe = spark.createDataFrame(
            [(u,) for u in picks + picks[:2] + [None]], "url string")
        out["semijoin"] = _rows(decode_semijoin(frame, probe, "url")
                                .collect(), COLS)
        return out

    bare, other = _both(blocks)
    got = answers(bare)
    assert got == answers(other)
    for u in picks:
        assert got["where", u] == _rows(
            want_src.filter(F.col("url") == u).collect(), COLS)
    assert got["semijoin"] == _rows(
        want_src.filter(F.col("url").isin(picks)).collect(), COLS)
    assert got["count"]["count"] == want_src.filter(F.col("n") >= 500).count()


# ---- semi-join edge cases on the per-file path ----------------------------

@pytest.fixture(scope="module")
def keyed(spark, tmp_path_factory):
    # k repeats three times, inside one group mostly; h is xref-encoded
    # against t, which embeds in it
    rows = [(i // 3, f"u{i:04d}", f"text {i}", f"<p>text {i}</p>")
            for i in range(240)]
    df = spark.createDataFrame(rows, "k long, u string, t string, h string")
    enc = str(tmp_path_factory.mktemp("keyed") / "enc")
    (encode_table(df.repartitionByRange(2, "k").sortWithinPartitions("k"),
                  codecs={"k": "for_bitpack", "u": "dict", "t": "zstd",
                          "h": "xref:t:3"},
                  block_rows=20)
     .write.parquet(enc))
    blocks = read_blocks(spark, enc)
    assert len(blocks.inputFiles()) == 2
    return df, blocks


@pytest.fixture
def taken_by_position(monkeypatch):
    """Fails a semi-join that decodes the index's keep-set, as it does over
    its ``max_groups`` cap, instead of taking its matched rows by
    position."""
    def over_cap(*args, **kwargs):
        raise AssertionError("the semi-join took the over-cap read")

    monkeypatch.setattr(decode, "_pruned_read", over_cap)


@pytest.mark.parametrize("probe_rows, want", [
    ([(5,), (5,), (60,)], [5, 60]),        # duplicate probe keys
    ([(5,), (None,)], [5]),                # a NULL probe key
    ([(7,), (8,), (79,)], [7, 8, 79]),     # keys repeating inside a group
])
def test_semijoin_per_file_matches_isin(spark, keyed, taken_by_position,
                                        probe_rows, want):
    df, blocks = keyed
    probe = spark.createDataFrame(probe_rows, "k long")
    got = decode_semijoin(blocks, probe, "k")
    cols = ["k", "u", "t", "h"]
    assert _rows(got.collect(), cols) == _rows(
        df.filter(F.col("k").isin(want)).collect(), cols)
    assert got.count() == 3 * len(want)


@pytest.mark.parametrize("shape", ["many_rows", "shuffled", "filtered"])
def test_semijoin_few_keys_in_many_rows_stay_inline(spark, keyed,
                                                    taken_by_position, shape):
    # more rows than the one-job probe read takes: the keys still prune
    df, blocks = keyed
    n = decode._PROBE_ROWS_PER_KEY * 65 + 50
    probe = spark.createDataFrame([(5,)] * n + [(60,)] * 10, "k long")
    if shape == "shuffled":
        probe = probe.repartition(3)
    elif shape == "filtered":
        probe = (spark.range(20 * n, numPartitions=8)
                 .filter((F.col("id") % 1000).isin(5, 60))
                 .select((F.col("id") % 1000).alias("k")))
    got = decode_semijoin(blocks, probe, "k")
    cols = ["k", "u", "t", "h"]
    assert _rows(got.collect(), cols) == _rows(
        df.filter(F.col("k").isin(5, 60)).collect(), cols)


def test_semijoin_per_file_column_subsets(spark, keyed, taken_by_position):
    df, blocks = keyed
    probe = spark.createDataFrame([("u0100",), ("u0007",)], "u string")
    want = df.filter(F.col("u").isin("u0100", "u0007"))
    sub = decode_semijoin(blocks, probe, "u", columns=["k"])
    assert sub.columns == ["k"]
    assert sorted(r[0] for r in sub.collect()) == [2, 33]
    # h decodes against t, which the caller did not ask for
    xref = decode_semijoin(blocks, probe, "u", columns=["h"])
    assert xref.columns == ["h"]
    assert _rows(xref.collect(), ["h"]) == _rows(want.collect(), ["h"])


def test_semijoin_matching_no_group_starts_no_decode(spark, keyed,
                                                     taken_by_position,
                                                     count_jobs):
    df, blocks = keyed
    probe = spark.createDataFrame([(10_000,), (-5,)], "k long")
    out, jobs = count_jobs(lambda: decode_semijoin(blocks, probe, "k"))
    assert jobs <= 1  # the probe collect only
    rows, jobs = count_jobs(out.collect)
    assert rows == [] and jobs == 0
    assert out.schema == decode_table(blocks).schema


def test_semijoin_over_the_row_cap_takes_the_coordinate_plan(spark, keyed):
    df, blocks = keyed
    probe = spark.createDataFrame([(4,), (50,)], "k long")
    got = decode_semijoin(blocks, probe, "k", max_groups=2)
    cols = ["k", "u", "t", "h"]
    assert _rows(got.collect(), cols) == _rows(
        df.filter(F.col("k").isin(4, 50)).collect(), cols)
