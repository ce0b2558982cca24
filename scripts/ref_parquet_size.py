"""Reference compressed-size point (BASELINE.md §3.2): the same synthetic
web table written as parquet the way `nail optimize` *configures* it —
sorted by host+warc_ts, dictionary on, zstd level 6, 1M row groups
(/root/reference/src/commands/optimize.rs:18-24,127-135,185-198).

Usage: python scripts/ref_parquet_size.py <rows>  -> JSON line
"""
import glob
import json
import os
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

ROWS = int(sys.argv[1]) if len(sys.argv) > 1 else 1_000_000
DATA = os.environ.get("BENCH_DATA_DIR", "/tmp/nail_bench_web")


def main():
    from pyspark.sql import functions as F

    from nail_parquet_spark.session import get_spark

    path = os.path.join(DATA, f"rows_{ROWS}")
    out = os.path.join(DATA, f"ref_parquet_{ROWS}")
    spark = get_spark("ref-size", master="local[32]")
    df = spark.read.parquet(path)
    host = F.regexp_extract("url", r"https://([^/]+)/", 1)
    (
        df.withColumn("__host", host)
        .sortWithinPartitions("__host", "warc_ts")
        .drop("__host")
        .write.mode("overwrite")
        .option("compression", "zstd")
        .option("parquet.compression.codec.zstd.level", "6")
        .option("parquet.block.size", str(1 << 30))
        .option("parquet.enable.dictionary", "true")
        .parquet(out)
    )
    size = sum(os.path.getsize(f) for f in glob.glob(out + "/*.parquet"))
    print(json.dumps({"rows": ROWS, "ref_parquet_bytes": size}))
    spark.stop()


if __name__ == "__main__":
    main()
