"""End-to-end M1 smoke: synthesize webpages -> encode -> inspect -> decode ->
verify bit-identity. Dev loop script; pytest mirrors it."""
import sys, time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))
from nail_parquet_spark.session import get_spark
from nail_parquet_spark.synth import webpages_spark
from nail_parquet_spark.codec.encode import encode_table
from nail_parquet_spark.codec.decode import decode_table, verify_roundtrip
from nail_parquet_spark.codec.inspect import metadata_summary

spark = get_spark("smoke", master="local[8]")
t0 = time.time()
web = webpages_spark(spark, 50_000, seed=42, n_parts=8).cache()
print("rows:", web.count(), "gen_s:", round(time.time() - t0, 1))

t0 = time.time()
blocks = encode_table(web, policy="balanced").cache()
nblocks = blocks.count()
print("blocks:", nblocks, "encode_s:", round(time.time() - t0, 1))
metadata_summary(blocks).show(truncate=False)

t0 = time.time()
dec = decode_table(blocks)
res = verify_roundtrip(web, dec, key="url")
print("verify_s:", round(time.time() - t0, 1), res)
assert res["total_mismatches"] == 0, res
assert res["joined_rows"] == 50_000
print("M1 OK")
spark.stop()
