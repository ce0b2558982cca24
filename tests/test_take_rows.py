"""The late-materialization tail that ``decode_semijoin`` and
``decode_sample`` share: every source, probe shape, delete set and side of
the ``max_groups`` cap gives the rows of the plain decode filtered by the
read's own predicate, minus the deletes."""
import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from nail_parquet_spark.codec import decode
from nail_parquet_spark.codec.decode import (POS_COLUMNS, decode_sample,
                                             decode_semijoin, decode_table,
                                             read_blocks)
from nail_parquet_spark.codec.deletes import positions_where
from nail_parquet_spark.codec.encode import encode_parquet_dir, encode_table

COLS = ["url", "n", "d", "lang", "text"]
N_FILES, FILE_ROWS = 3, 300


def _n(i):
    return (i * 37) % 1000


def _table(lo: int, hi: int) -> pa.Table:
    ids = range(lo, hi)
    return pa.table({
        "url": [f"https://t.example/{i:05d}" for i in ids],
        "n": pa.array([_n(i) for i in ids], pa.int64()),
        "d": pa.array([((i * 13) % 450) / 4 for i in ids], pa.float64()),
        "lang": [("en", "de", "fr")[(i // 7) % 3] for i in ids],
        "text": [f"page {i} " + "word " * (i % 40) for i in ids],
    })


@pytest.fixture(scope="module")
def sources(spark, tmp_path_factory):
    """The same pages as a bare scan of three block files, that scan
    behind a no-op filter, and a cached in-memory encode."""
    root = tmp_path_factory.mktemp("take")
    src = root / "src"
    src.mkdir()
    for f in range(N_FILES):
        pq.write_table(_table(f * FILE_ROWS, (f + 1) * FILE_ROWS),
                       str(src / f"p{f}.parquet"))
    enc = str(root / "enc")
    encode_parquet_dir(spark, str(src), enc, block_rows=50,
                       bloom_columns=["url"]).collect()
    bare = read_blocks(spark, enc)
    assert len(bare.inputFiles()) == N_FILES
    pages = spark.read.parquet(str(src))
    cached = encode_table(pages.repartition(N_FILES), block_rows=50).cache()
    frames = {"bare": bare, "filtered": bare.filter(F.col("n_rows") >= 0),
              "cached": cached}
    yield pages, frames
    cached.unpersist()


def _lane(key: str, seed: int):
    ks = F.coalesce(F.col(key).cast("string"), F.lit("\x00"))
    return (F.conv(F.substring(
        F.md5(F.encode(F.concat(ks, F.lit(f":{seed}")), "UTF-8")), 1, 15),
        16, 10).cast("bigint").cast("double") / float(1 << 60))


def _rows(df):
    return sorted((tuple(r) for r in df.select(*COLS).collect()), key=repr)


# three picked pages survive the deletes below (n >= 500), two do not
PICKS = ([i for i in range(N_FILES * FILE_ROWS) if _n(i) >= 500][::97][:3]
         + [i for i in range(N_FILES * FILE_ROWS) if _n(i) < 500][::131][:2])


def _reads(spark):
    """(name, read of a frame with its keyword arguments, the read's own
    predicate over a plain decode)."""
    urls = spark.createDataFrame(
        [(f"https://t.example/{i:05d}",) for i in PICKS]
        + [("https://t.example/none",), (None,)], "url string")
    ds = spark.createDataFrame([(((i * 13) % 450) / 4,) for i in PICKS],
                               "d double")
    return [
        ("inline", lambda f, **kw: decode_semijoin(f, urls, "url", **kw),
         lambda dec: dec.join(urls, "url", "left_semi")),
        ("over_inline_keys_max",
         lambda f, **kw: decode_semijoin(f, urls, "url", inline_keys_max=2,
                                         **kw),
         lambda dec: dec.join(urls, "url", "left_semi")),
        ("double_key", lambda f, **kw: decode_semijoin(f, ds, "d", **kw),
         lambda dec: dec.join(ds, "d", "left_semi")),
        ("sample", lambda f, **kw: decode_sample(f, "url", 0.1, seed=3, **kw),
         lambda dec: dec.filter(_lane("url", 3) < 0.1)),
    ]


@pytest.mark.parametrize("max_groups", [100_000, 2])
@pytest.mark.parametrize("with_deletes", [False, True])
@pytest.mark.parametrize("source", ["bare", "filtered", "cached"])
def test_tail_equals_the_filtered_decode(spark, sources, monkeypatch, source,
                                         with_deletes, max_groups):
    _, frames = sources
    frame = frames[source]
    over_cap = []
    pruned_read = decode._pruned_read

    def spy(*args, **kwargs):
        over_cap.append(True)
        return pruned_read(*args, **kwargs)

    monkeypatch.setattr(decode, "_pruned_read", spy)
    dels = (positions_where(frame, [("n", "<", 500)]) if with_deletes
            else None)
    full = decode_table(frame, with_positions=True)
    if dels is not None:
        full = full.join(dels.select(*POS_COLUMNS), POS_COLUMNS, "left_anti")
    for name, read, where in _reads(spark):
        over_cap.clear()
        got = _rows(read(frame, deletes=dels, max_groups=max_groups))
        want = _rows(where(full))
        assert got == want, name
        assert len(want) >= 3, name
        # more matched rows than the cap: the index's keep-set decodes
        assert bool(over_cap) == (max_groups == 2), name


def test_tail_job_counts(spark, sources, count_jobs):
    pages, frames = sources
    urls = sorted(r[0] for r in pages.select("url").collect())
    probe = spark.createDataFrame([(u,) for u in urls[::18][:50]],
                                  "url string")
    want = pages.join(probe, "url", "left_semi")
    for source in ("filtered", "cached"):
        frame = frames[source]
        decode_semijoin(frame, probe, "url").collect()  # warm
        got, jobs = count_jobs(
            lambda: decode_semijoin(frame, probe, "url").collect())
        assert jobs <= 6, source
        assert sorted(got) == sorted(want.select(*sorted(COLS)).collect())
    lane = _lane("url", 0) < 0.05
    got, jobs = count_jobs(
        lambda: decode_sample(frames["bare"], "url", 0.05).collect())
    assert jobs <= 2
    assert sorted(got) == sorted(pages.filter(lane)
                                 .select(*sorted(COLS)).collect())
