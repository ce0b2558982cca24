"""Format IO round trips (convert.rs:30-57, io.rs:14-34 parity)."""
import os

import pytest

from nail_parquet_spark.sources.io import _fmt_of, convert, read_data, write_data


def test_fmt_autodetect():
    assert _fmt_of("a.parquet", None) == "parquet"
    assert _fmt_of("a.csv", None) == "csv"
    assert _fmt_of("a.ndjson", None) == "json"
    assert _fmt_of("a.xlsx", None) == "xlsx"
    with pytest.raises(ValueError):
        _fmt_of("a.txt", None)  # utils/mod.rs:47-57 rejects unknown exts


def test_convert_roundtrips(spark, sample, tmp_path):
    src = str(tmp_path / "s.parquet")
    write_data(sample, src)
    info = convert(spark, src, str(tmp_path / "s.csv"))
    assert info == {"rows": 5, "cols": 4}
    csv_back = read_data(spark, str(tmp_path / "s.csv"))
    assert csv_back.count() == 5 and len(csv_back.columns) == 4
    info2 = convert(spark, str(tmp_path / "s.csv"), str(tmp_path / "s.json"))
    assert info2["rows"] == 5
    js = read_data(spark, str(tmp_path / "s.json"))
    assert js.count() == 5


def test_xlsx_roundtrip(spark, sample, tmp_path):
    """Dependency-free xlsx write+read (sources/xlsx.py): values, types,
    header, and NULLs survive a driver-side round trip (io.rs:36-322 parity
    without openpyxl)."""
    path = str(tmp_path / "s.xlsx")
    write_data(sample, path)
    back = read_data(spark, path)
    assert back.count() == sample.count()
    assert back.columns == sample.columns
    a = {r["id"]: r for r in sample.collect()}
    b = {r["id"]: r for r in back.collect()}
    for k in a:
        assert a[k]["name"] == b[k]["name"]
        assert float(a[k]["value"]) == float(b[k]["value"])


def test_xlsx_special_values(spark, tmp_path):
    from nail_parquet_spark.sources.xlsx import read_xlsx, write_xlsx

    import pandas as pd

    pdf = pd.DataFrame({
        "s": ["a<b&c>", "日本語", None, "", "x" * 500],
        "n": [1, 2.5, -3, None, 9007199254740992.0],
        "b": [True, False, None, True, False],
    })
    path = str(tmp_path / "t.xlsx")
    write_xlsx(pdf, path)
    back = read_xlsx(path)
    assert list(back.columns) == ["s", "n", "b"]
    assert back["s"][0] == "a<b&c>" and back["s"][1] == "日本語"
    assert back["s"][2] is None and back["s"][4] == "x" * 500
    assert back["n"][0] == 1 and back["n"][1] == 2.5
    assert bool(back["b"][0]) is True and bool(back["b"][1]) is False
    assert pd.isna(back["b"][2]) and pd.isna(back["n"][3])
    # control characters round-trip via the OOXML _xHHHH_ convention
    pdf2 = pd.DataFrame({"c": ["a\x01b\x00", "plain", "_x0041_literal"]})
    p2 = str(tmp_path / "ctrl.xlsx")
    write_xlsx(pdf2, p2)
    back2 = read_xlsx(p2)
    assert back2["c"][0] == "a\x01b\x00"
    assert back2["c"][2] == "_x0041_literal"  # pre-existing escapes survive
    # a row of only NULLs must not vanish
    pdf3 = pd.DataFrame({"a": ["x", None, "y"], "b": [1, None, 2]})
    p3 = str(tmp_path / "nulls.xlsx")
    write_xlsx(pdf3, p3)
    assert len(read_xlsx(p3)) == 3


def test_orc_roundtrip_and_autodetect(spark, sample, tmp_path):
    """ORC sink/scan (beyond the reference menu — Spark-native Hive/Trino
    interchange): values and schema survive, convert dispatches on the
    .orc extension, and extensionless dirs of ORC files autodetect."""
    path = str(tmp_path / "s.orc")
    write_data(sample, path, compression="zstd")
    back = read_data(spark, path)
    assert back.count() == sample.count()
    assert set(back.columns) == set(sample.columns)
    assert sorted(map(tuple, back.collect())) == sorted(map(tuple, sample.collect()))

    info = convert(spark, path, str(tmp_path / "back.parquet"))
    assert info["rows"] == sample.count()

    bare = str(tmp_path / "bare_dir")
    write_data(sample, bare, fmt="orc")
    auto = read_data(spark, bare)  # no extension: sniffed from files inside
    assert auto.count() == sample.count()


def test_arrow_ipc_roundtrip(spark, sample, tmp_path):
    """Distributed Arrow IPC / Feather-v2 sink + scan: values, schema, and
    NULLs survive; autodetect covers extension, directory, and convert."""
    assert _fmt_of("a.arrow", None) == "arrow"
    assert _fmt_of("a.feather", None) == "arrow"
    path = str(tmp_path / "s.arrow")
    write_data(sample, path)
    back = read_data(spark, path)
    assert sorted(back.columns) == sorted(sample.columns)
    assert sorted(r["name"] for r in back.collect()) == \
        ["Alice", "Bob", "Charlie", "David", "Eve"]
    assert dict(back.dtypes) == dict(sample.dtypes)
    # directory autodetect (no fmt hint)
    assert _fmt_of(path, None) == "arrow"
    # a feather reader (pyarrow) can open the part files directly
    import glob

    import pyarrow.feather as pf

    parts = glob.glob(path + "/part-*.arrow")
    assert parts
    assert sum(len(pf.read_table(p)) for p in parts) == 5
    # convert arrow -> parquet
    info = convert(spark, path, str(tmp_path / "back.parquet"))
    assert info == {"rows": 5, "cols": 4}


def test_arrow_ipc_compression_and_nulls(spark, tmp_path):
    df = spark.createDataFrame(
        [(1, None), (2, "x"), (None, "y")], "k long, s string")
    for comp in ("zstd", "lz4", "none"):
        path = str(tmp_path / f"c_{comp}.arrow")
        write_data(df, path, compression=comp)
        got = read_data(spark, path)
        assert got.count() == 3
        assert got.filter("k is null").count() == 1
        assert got.filter("s is null").count() == 1
    from nail_parquet_spark.sources.io import write_arrow_ipc

    with pytest.raises(ValueError, match="zstd/lz4"):
        write_arrow_ipc(df, str(tmp_path / "bad"), compression="gzip")


def test_jsonl_gz_roundtrip(spark, tmp_path):
    """.jsonl.gz — the corpus-export interchange convention: write_data
    infers json format + gzip codec from the suffix; read autodetects."""
    import glob

    from nail_parquet_spark.sources.io import read_data, write_data

    df = spark.createDataFrame(
        [(1, "alpha"), (2, "beta"), (3, "gamma")], "id long, text string")
    out = str(tmp_path / "shard-00000.jsonl.gz")
    write_data(df, out)
    assert glob.glob(out + "/*.json.gz")  # gzip part files
    back = read_data(spark, out)
    assert sorted(map(tuple, back.collect())) == sorted(map(tuple, df.collect()))


def test_csv_gz_roundtrip(spark, tmp_path):
    from nail_parquet_spark.sources.io import read_data, write_data

    df = spark.createDataFrame([(1, "a"), (2, "b")], "id long, s string")
    out = str(tmp_path / "dump.csv.gz")
    write_data(df, out)
    back = read_data(spark, out)
    assert back.count() == 2


def test_task_file_commit_removes_only_older_attempts(tmp_path, monkeypatch):
    import pyspark

    from nail_parquet_spark.sources.io import TaskFile

    class Ctx:
        def partitionId(self):
            return 3

        def attemptNumber(self):
            return 1

    monkeypatch.setattr(pyspark.TaskContext, "get", staticmethod(lambda: Ctx()))
    older = tmp_path / ".part-00003.attempt-0.inprogress"
    newer = tmp_path / ".part-00003.attempt-2.inprogress"
    other = tmp_path / ".part-00004.attempt-0.inprogress"
    final = tmp_path / "part-00003.parquet"
    for f in (older, newer, other, final):
        f.write_text("old")
    out = TaskFile(str(tmp_path), "part", ".parquet")
    assert not older.exists()
    assert newer.exists() and other.exists()
    assert out.tmp == str(tmp_path / ".part-00003.attempt-1.inprogress")
    with open(out.tmp, "w") as fh:
        fh.write("new")
    assert out.commit() == str(final)
    assert final.read_text() == "new" and not os.path.exists(out.tmp)


def test_scan_side_jobs_run_over_a_range_frame(spark, tmp_path):
    """The scan-side jobs (encode and decode of block dirs, the pyarrow
    parquet and Arrow IPC scans) run their work items over a JVM-built
    ``spark.range`` frame, one task per slice, never over a Python RDD.
    ``num_partitions=k`` still writes k block files, and task i's blocks
    carry ``part_id`` i."""
    import glob

    import pyarrow as pa
    import pyarrow.parquet as pq

    from nail_parquet_spark.codec.decode import decode_parquet_dir
    from nail_parquet_spark.codec.encode import encode_parquet_dir
    from nail_parquet_spark.sources.io import read_arrow_ipc, read_parquet_arrow
    from nail_parquet_spark.synth import make_webpages_batch

    def plan(df):
        text = df._jdf.queryExecution().executedPlan().toString()
        assert "Range (" in text and "ExistingRDD" not in text, text
        return df

    src = tmp_path / "src"
    src.mkdir()
    for i in range(3):
        pq.write_table(pa.Table.from_batches([make_webpages_batch(50 + i, 0, 300)]),
                       str(src / f"p{i}.parquet"), row_group_size=100)
    for k in (2, 5):
        enc = str(tmp_path / f"enc{k}")
        manifest = plan(encode_parquet_dir(spark, str(src), enc, num_partitions=k)).collect()
        files = sorted(glob.glob(enc + "/blocks-*.parquet"))
        assert len(files) == len(manifest) == k
        for i, f in enumerate(files):
            assert set(pq.read_table(f, columns=["part_id"]).column(0).to_pylist()) == {i}
    dec = str(tmp_path / "dec")
    rows = plan(decode_parquet_dir(spark, str(tmp_path / "enc2"), dec)).collect()
    assert sum(r["n_rows"] for r in rows) == 900

    back = plan(read_parquet_arrow(spark, str(src)))
    want = pa.concat_tables(pq.read_table(str(src / f"p{i}.parquet")) for i in range(3))
    assert back.toArrow().column("url").equals(want.column("url"))

    ipc = tmp_path / "ipc"
    ipc.mkdir()
    for i in range(2):
        with pa.ipc.new_file(str(ipc / f"p{i}.arrow"), want.schema) as w:
            w.write_table(want.slice(i * 450, 450))
    back = plan(read_arrow_ipc(spark, str(ipc)))
    assert back.toArrow().column("url").equals(want.column("url"))


@pytest.mark.parametrize("n_parts, digest", [
    (16, "3977ef19fe64345acd97b679780bea5c760a6899fd839e33acf93ef3df9eb112"),
    (3, "870c19e8bb07f791ce9a8fb41c1724b04027bf8e8a5fcae616d0d92d6dce109b"),
])
def test_webpages_spark_one_range_per_task(spark, n_parts, digest):
    """Task i generates row range i: per-partition row counts are the
    range sizes (a hash repartition of the ranges left some partitions
    empty and stacked several ranges on others), and the rows are those of
    the shuffled frame, whatever their order (``digest``)."""
    import hashlib

    from pyspark.sql import functions as F

    from nail_parquet_spark.synth import webpages_spark

    df = webpages_spark(spark, 2_000, seed=3, n_parts=n_parts)
    sizes = dict(df.groupBy(F.spark_partition_id()).count().collect())
    per = -(-2_000 // n_parts)
    assert sizes == {i: min(per, 2_000 - i * per) for i in range(n_parts)}
    rows = sorted(hashlib.md5(repr(tuple(r)).encode()).hexdigest()
                  for r in df.collect())
    assert hashlib.sha256("".join(rows).encode()).hexdigest() == digest
