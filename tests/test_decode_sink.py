"""The parquet-sink decode picks its source from the plan: a bare scan of
local block files decodes one task per file (one stage, no Exchange), every
other frame takes the hash shuffle and sort; both give the source back."""
import uuid

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from nail_parquet_spark.cli import main
from nail_parquet_spark.codec import decode
from nail_parquet_spark.codec.decode import decode_to_parquet
from nail_parquet_spark.codec.encode import encode_parquet_dir, encode_table
from nail_parquet_spark.synth import make_webpages_batch


@pytest.fixture(scope="module")
def encoded(spark, tmp_path_factory):
    root = tmp_path_factory.mktemp("sink")
    src = root / "src"
    src.mkdir()
    tables = []
    for i in range(3):
        t = pa.Table.from_batches([make_webpages_batch(70 + i, 0, 300)])
        pq.write_table(t, str(src / f"p{i}.parquet"), row_group_size=100)
        tables.append(t)
    enc = str(root / "enc")
    encode_parquet_dir(spark, str(src), enc).collect()
    return str(src), enc, pa.concat_tables(tables).sort_by("url")


def _stages(spark, fn):
    """``fn()`` and the number of stages of the Spark jobs it ran."""
    sc = spark.sparkContext
    group = f"sink-test-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setJobGroup("", "")
    tracker = sc.statusTracker()
    return out, sum(len(tracker.getJobInfo(j).stageIds)
                    for j in tracker.getJobIdsForGroup(group))


def _shuffles(manifest) -> bool:
    return "Exchange" in manifest._jdf.queryExecution().executedPlan().toString()


def _decoded(out: str, want: pa.Table) -> bool:
    return pq.read_table(out).select(want.column_names).sort_by("url").equals(want)


def test_bare_scan_decodes_one_task_per_file(spark, encoded, tmp_path):
    _, enc, want = encoded
    blocks = spark.read.parquet(enc)  # its schema inference is a job
    out = str(tmp_path / "out")

    def run():
        man = decode_to_parquet(blocks, out)
        return man, man.collect()

    (man, rows), stages = _stages(spark, run)
    assert stages == 1 and not _shuffles(man)
    assert len(rows) == len(blocks.inputFiles())
    assert _decoded(out, want)


@pytest.mark.parametrize("frame", ["in_memory", "filtered", "not_file_keyed"])
def test_other_frames_take_the_shuffle(spark, encoded, tmp_path, frame):
    src, enc, want = encoded
    blocks = {"in_memory": lambda: encode_table(spark.read.parquet(src)),
              "filtered": lambda: spark.read.parquet(enc).filter(
                  F.col("n_rows") >= 0),
              "not_file_keyed": lambda: spark.read.parquet(enc)}[frame]()
    out = str(tmp_path / "out")
    man = decode_to_parquet(blocks, out,
                            file_keyed=frame != "not_file_keyed")
    assert _shuffles(man)
    man.collect()
    assert _decoded(out, want)


def test_file_larger_than_a_split_takes_the_shuffle(spark, encoded, tmp_path):
    _, enc, want = encoded
    blocks = spark.read.parquet(enc)
    out = str(tmp_path / "out")
    spark.conf.set("spark.sql.files.maxPartitionBytes", "4096")
    try:
        man = decode_to_parquet(blocks, out)
        assert _shuffles(man)
        man.collect()
    finally:
        spark.conf.unset("spark.sql.files.maxPartitionBytes")
    assert _decoded(out, want)


def test_cli_decode_of_a_snapshot_takes_the_per_file_task(spark, tmp_path,
                                                          monkeypatch,
                                                          capsys):
    # two batches of 1,000 rows: a decode at the first snapshot, and a
    # plain decode after rolling back to it, each see only the first batch
    from nail_parquet_spark.pipeline.checkpoint import (encode_resumable,
                                                        rollback_to,
                                                        snapshots)

    src = tmp_path / "src"
    src.mkdir()
    for i in range(2):
        pq.write_table(pa.Table.from_batches([make_webpages_batch(90 + i, 0, 1000)]),
                       str(src / f"p{i}.parquet"))
    out = str(tmp_path / "enc")
    encode_resumable(spark, str(src), out, units_per_job=1)
    first = snapshots(out)[0]["snapshot"]
    assert len(snapshots(out)) == 2

    def shuffle(*args, **kwargs):
        raise AssertionError("the decode took the shuffle")

    monkeypatch.setattr(decode, "_grouped", shuffle)

    def rows(*argv):
        dec = str(tmp_path / f"dec{uuid.uuid4().hex}")
        assert main(["decode", out, "-o", dec, *argv]) == 0
        capsys.readouterr()
        return spark.read.parquet(dec).count()

    assert rows() == 2_000
    assert rows("--snapshot", str(first)) == 1_000
    rollback_to(out, first)
    assert rows() == 1_000


def test_read_blocks_at_starts_no_job(spark, tmp_path, count_jobs):
    # the block files' schema is known, so reading a snapshot's batch dirs
    # needs no inference job; the frame still decodes to the source rows
    from nail_parquet_spark.pipeline.checkpoint import (encode_resumable,
                                                        read_blocks_at)

    src = tmp_path / "src"
    src.mkdir()
    tables = []
    for i in range(2):
        t = pa.Table.from_batches([make_webpages_batch(80 + i, 0, 400)])
        pq.write_table(t, str(src / f"p{i}.parquet"))
        tables.append(t)
    out = str(tmp_path / "enc")
    encode_resumable(spark, str(src), out, units_per_job=1)
    blocks, jobs = count_jobs(lambda: read_blocks_at(spark, out))
    assert jobs == 0
    dec = str(tmp_path / "dec")
    decode_to_parquet(blocks, dec).collect()
    assert _decoded(dec, pa.concat_tables(tables).sort_by("url"))


def test_read_blocks_refuses_a_plain_parquet_dir(spark, tmp_path):
    # the known schema would read any parquet file as all-NULL block rows;
    # a file without the block columns is refused instead
    from nail_parquet_spark.codec.decode import read_blocks

    pq.write_table(pa.table({"url": ["a"], "n": [1]}), str(tmp_path / "p.parquet"))
    with pytest.raises(ValueError, match="not a block file"):
        read_blocks(spark, str(tmp_path))
