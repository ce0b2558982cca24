"""Schema-evolution decode (missing_columns='null'): out_dirs whose later
batches gained columns decode with NULL fill for the older groups —
Iceberg add-column read semantics."""

import pytest
from pyspark.sql import functions as F

from nail_parquet_spark.codec.decode import (
    decode_parquet_dir,
    decode_table,
)
from nail_parquet_spark.codec.encode import encode_parquet_dir, encode_table


@pytest.fixture(scope="module")
def evolved_dir(spark, tmp_path_factory):
    """batch=0 encodes (k, a); batch=1 adds column b — the typical
    resumable out_dir after a schema change between runs."""
    root = tmp_path_factory.mktemp("evolve")
    src0 = str(root / "src0")
    src1 = str(root / "src1")
    spark.range(100).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("a")
    ).write.parquet(src0)
    spark.range(100, 250).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("a"),
        F.concat(F.lit("v"), F.col("id").cast("string")).alias("b"),
    ).write.parquet(src1)
    out = str(root / "blocks")
    encode_parquet_dir(spark, src0, f"{out}/batch=0", num_partitions=2).collect()
    encode_parquet_dir(spark, src1, f"{out}/batch=1", num_partitions=2).collect()
    return out


def test_decode_table_null_fill(spark, evolved_dir):
    blocks = spark.read.option("recursiveFileLookup", "true").parquet(evolved_dir)
    got = decode_table(blocks, columns=["k", "a", "b"], missing_columns="null")
    rows = got.orderBy("k").collect()
    assert len(rows) == 250
    assert all(r["b"] is None for r in rows[:100])
    assert all(r["b"] == f"v{r['k']}" for r in rows[100:])
    assert all(r["a"] == 2 * r["k"] for r in rows)


def test_decode_table_strict_still_raises(spark, evolved_dir):
    blocks = spark.read.option("recursiveFileLookup", "true").parquet(evolved_dir)
    with pytest.raises(Exception, match="missing requested columns"):
        decode_table(blocks, columns=["k", "b"]).collect()


def test_decode_parquet_dir_null_fill(spark, evolved_dir, tmp_path):
    out = str(tmp_path / "dec")
    decode_parquet_dir(spark, evolved_dir, out,
                       columns=["k", "b"], missing_columns="null").collect()
    got = spark.read.parquet(out)
    assert got.count() == 250
    assert got.filter(F.col("b").isNull()).count() == 100


def test_decode_parquet_dir_reads_nested_headers(spark, evolved_dir,
                                                 tmp_path):
    # the later batch's files sit in a plain (not key=value) subdirectory
    # under the older batch's: its column b must still reach the headers
    import glob
    import shutil

    enc = tmp_path / "enc"
    (enc / "later").mkdir(parents=True)
    for f in glob.glob(f"{evolved_dir}/batch=0/*.parquet"):
        shutil.copy(f, enc)
    for f in glob.glob(f"{evolved_dir}/batch=1/*.parquet"):
        shutil.copy(f, enc / "later")
    out = str(tmp_path / "dec")
    decode_parquet_dir(spark, str(enc), out, missing_columns="null").collect()
    got = spark.read.parquet(out)
    assert sorted(got.columns) == ["a", "b", "k"]
    assert got.count() == 250
    assert got.filter(F.col("b").isNull()).count() == 100


def test_unknown_column_still_errors(spark, evolved_dir):
    # evolution covers columns that exist in SOME batch; a column in NO
    # batch has no header to type the NULLs and must keep failing loudly
    blocks = spark.read.option("recursiveFileLookup", "true").parquet(evolved_dir)
    with pytest.raises(ValueError, match="not present in the blocks table"):
        decode_table(blocks, columns=["k", "nope"], missing_columns="null")


def test_bad_mode_rejected(spark):
    blocks = encode_table(spark.range(5).select(F.col("id").alias("k")))
    with pytest.raises(ValueError, match="missing_columns"):
        decode_table(blocks, missing_columns="drop")


def test_disk_union_evolution_file_keyed(spark, evolved_dir):
    # the same null-fill works through the shuffled decode_table path when
    # the two batches are distinguished by the file key (default)
    blocks = spark.read.option("recursiveFileLookup", "true").parquet(evolved_dir)
    got = decode_table(blocks, columns=["b", "k"], missing_columns="null")
    assert got.filter(F.col("b").isNotNull()).count() == 150
