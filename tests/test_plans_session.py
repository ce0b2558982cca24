"""Plan-quality gates for the session's encoded-analytics operators."""

import re

from pyspark.sql import functions as F

from nail_parquet_spark.codec.decode import (
    decode_sample,
    decode_semijoin,
    decode_topk_by,
)
from nail_parquet_spark.codec.encode import encode_table
from nail_parquet_spark.plans.explain import global_windows, plan_text


def _blocks(spark):
    rows = [("ab"[i % 2], i, f"u{i:03d}") for i in range(200)]
    df = (spark.createDataFrame(rows, "g string, v long, u string")
          .repartition(1).sortWithinPartitions("g", "v"))
    return encode_table(df, codecs={"g": "dict", "v": "plain", "u": "zstd"},
                        block_rows=20).cache()


def test_topk_by_window_is_keyed_not_global(spark):
    blocks = _blocks(spark)
    out = decode_topk_by(blocks, "g", "v", 5, tiebreak="u")
    assert global_windows(out) == []


def test_semijoin_small_probe_broadcasts(spark, tmp_path):
    blocks = _blocks(spark)
    p = str(tmp_path / "probe.parquet")
    spark.createDataFrame([(3,), (7,)], "v long").write.parquet(p)
    probe = spark.read.parquet(p)
    out = decode_semijoin(blocks, probe, "v")
    txt = plan_text(out)
    # the corpus side never reshuffles on the key: the matched rows are
    # taken by position inside the decode, so no join follows it and no
    # exchange hashes on v
    assert not re.search(r"Join|CartesianProduct", txt)
    assert not re.search(r"hashpartitioning\(v#", txt)
    assert out.count() == 2


def test_sample_lane_is_projection_only(spark):
    blocks = _blocks(spark)
    out = decode_sample(blocks, "v", 0.25, seed=1)
    # the lane filter itself introduces no window/aggregate — any exchange
    # present belongs to the decode's block co-location, not the sampling
    assert global_windows(out) == []
