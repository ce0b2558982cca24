"""Seeded inputs, reference sizes and output digests for the benchmark.

Every input comes from ``nail_parquet_spark.synth.make_webpages_batch``
(the Common-Crawl-style ``url, warc_ts, html, text, lang`` table), generated
inside Spark tasks so set-up scales with the cores. The same seed always
gives the same rows.
"""

from __future__ import annotations

import hashlib
import os

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

from nail_parquet_spark.sources.io import list_parquet_files
from nail_parquet_spark.synth import WEBPAGES_SCHEMA, make_webpages_batch

COLUMNS = ["url", "warc_ts", "html", "text", "lang"]
PAGES_DDL = "url string, warc_ts timestamp, html binary, text string, lang string"
BATCH_ROWS = 8192


def _inject_duplicates(batch: pa.RecordBatch, seed: int, start: int,
                       dup_frac: float) -> pa.RecordBatch:
    """Overwrite a seeded share of rows with copies of other rows of the
    batch: half with the same body text, half with one word of it replaced.
    Urls stay unique, so every row keeps its id."""
    n = batch.num_rows
    rng = np.random.default_rng((seed, start, 7))
    n_dup = int(n * dup_frac)
    if n < 4 or n_dup == 0:
        return batch
    targets = rng.choice(np.arange(n // 2, n), size=min(n_dup, n - n // 2), replace=False)
    sources = rng.integers(0, n // 2, len(targets))
    html = batch.column("html").to_pylist()
    text = batch.column("text").to_pylist()
    for j, (t, s) in enumerate(zip(targets, sources)):
        src_text = text[s]
        if j % 2 == 1 and src_text:
            words = src_text.split(" ")
            words[len(words) // 2] = "zzyzx"
            src_text = " ".join(words)
        text[t] = src_text
        html[t] = (b"<html><head><title>page</title></head><body><p>"
                   + src_text.encode("utf-8") + b"</p></body></html>")
    cols = dict(zip(batch.schema.names, batch.columns))
    cols["html"] = pa.array(html, pa.binary())
    cols["text"] = pa.array(text, pa.string())
    return pa.record_batch([cols[c] for c in COLUMNS], schema=WEBPAGES_SCHEMA)


def write_pages(spark, out_dir: str, seed: int, start: int, n_rows: int,
                n_files: int, dup_frac: float = 0.0) -> None:
    """Generate rows ``[start, start + n_rows)`` of the seeded web table into
    ``n_files`` parquet files (one row group each), optionally with injected
    exact and near duplicates."""
    per = (n_rows + n_files - 1) // n_files
    ranges = [(start + i * per, start + min((i + 1) * per, n_rows))
              for i in range(n_files) if i * per < n_rows]

    def gen(batches):
        for b in batches:
            for s, e in zip(b.column("s").to_pylist(), b.column("e").to_pylist()):
                for cs in range(s, e, BATCH_ROWS):
                    rb = make_webpages_batch(seed, cs, min(BATCH_ROWS, e - cs))
                    if dup_frac:
                        rb = _inject_duplicates(rb, seed, cs, dup_frac)
                    yield rb

    rdd = spark.sparkContext.parallelize(ranges, len(ranges))  # one range per task
    (spark.createDataFrame(rdd, "s long, e long")
     .mapInArrow(gen, schema=PAGES_DDL)
     .write.mode("overwrite")
     .option("compression", "snappy")
     .parquet(out_dir))


def dir_bytes(path: str) -> int:
    return sum(os.path.getsize(f) for f in list_parquet_files(path))


def write_reference_parquet(spark, src_dir: str, out_dir: str) -> int:
    """Write the pages as parquet configured like the reference's
    ``optimize`` (sorted by host then warc_ts, dictionary on, zstd level 6,
    one row group per file) and return the bytes written — the size bar
    the encoded table must stay at or under."""
    from pyspark.sql import functions as F

    host = F.regexp_extract("url", r"https://([^/]+)/", 1)
    (spark.read.parquet(src_dir)
     .withColumn("__host", host)
     .sortWithinPartitions("__host", "warc_ts")
     .drop("__host")
     .write.mode("overwrite")
     .option("compression", "zstd")
     .option("parquet.compression.codec.zstd.level", "6")
     .option("parquet.block.size", str(1 << 30))
     .option("parquet.enable.dictionary", "true")
     .parquet(out_dir))
    return dir_bytes(out_dir)


def read_table(path: str, columns: list[str] | None = None) -> pa.Table:
    return pa.concat_tables([pq.read_table(f, columns=columns)
                             for f in list_parquet_files(path)])


def array_digest(arr: pa.Array) -> str:
    """Content digest of one array: validity, value lengths and value bytes
    (raw, so non-UTF-8 binary is compared byte for byte)."""
    if isinstance(arr, pa.ChunkedArray):
        arr = arr.combine_chunks()
    h = hashlib.sha256()
    valid = np.asarray(arr.is_valid(), dtype=np.uint8)
    h.update(valid.tobytes())
    t = arr.type
    if pa.types.is_string(t) or pa.types.is_binary(t):
        arr = arr.cast(pa.large_binary())
        t = arr.type
    if pa.types.is_large_binary(t):
        offs = np.frombuffer(arr.buffers()[1], dtype=np.int64)[arr.offset:arr.offset + len(arr) + 1]
        lens = np.diff(offs) * valid
        h.update(lens.tobytes())
        data = arr.buffers()[2]
        if data is not None:
            h.update(memoryview(data)[int(offs[0]):int(offs[-1])])
        return h.hexdigest()
    vals = arr.cast(pa.int64()) if pa.types.is_timestamp(t) else arr
    np_vals = np.asarray(vals.fill_null(0).to_numpy(zero_copy_only=False))
    h.update(np_vals.tobytes())
    return h.hexdigest()


def column_digests(tbl: pa.Table, key: str = "url") -> dict[str, str]:
    """Per-column digests of ``tbl`` in ``key`` order, so two tables holding
    the same rows in any order digest equal."""
    tbl = tbl.take(pc.sort_indices(tbl, sort_keys=[(key, "ascending")]))
    return {c: array_digest(tbl.column(c)) for c in tbl.column_names}
