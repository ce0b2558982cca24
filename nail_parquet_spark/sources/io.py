"""Format-dispatched read/write (io.rs:14-34, utils/mod.rs:47-57 parity).

Parquet/CSV/NDJSON are distributed scans/sinks; XLSX stays driver-side via
pandas exactly like the reference (calamine/rust_xlsxwriter are
single-process too, io.rs:36-322).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession


def list_parquet_files(path: str) -> list[str]:
    """Recursive parquet file listing that applies Spark's hidden-path
    convention: any path SEGMENT starting with ``_`` or ``.`` is skipped
    (``_temporary`` task leftovers, ``_manifests``, dot-prefixed in-progress
    files), so an aborted write never leaks stale rows into a scan that
    Spark's own reader would have ignored."""
    import glob as _glob

    out = []
    for f in sorted(_glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True)):
        rel = os.path.relpath(f, path)
        if any(seg.startswith(("_", ".")) for seg in rel.split(os.sep)):
            continue
        out.append(f)
    return out


class TaskFile:
    """The file one Spark task writes itself: ``path`` is
    ``<out_dir>/<stem>-<partition><ext>``, ``tmp`` an attempt-unique temp
    name to write first, and :meth:`commit` renames it into place
    atomically. Spark's task commit does not cover such files, so a
    speculative or zombie duplicate attempt must never write into the final
    file. Creating one removes the temps of STRICTLY OLDER attempts only:
    a concurrent duplicate's live temp is never unlinked, and a late zombie
    never unlinks the tracked retry's file."""

    def __init__(self, out_dir: str, stem: str, ext: str):
        import glob
        import re

        from pyspark import TaskContext

        ctx = TaskContext.get()
        tid = ctx.partitionId() if ctx is not None else 0
        att = ctx.attemptNumber() if ctx is not None else 0
        self.path = os.path.join(out_dir, f"{stem}-{tid:05d}{ext}")
        self.tmp = os.path.join(out_dir, f".{stem}-{tid:05d}.attempt-{att}.inprogress")
        for stale in glob.glob(os.path.join(out_dir, f".{stem}-{tid:05d}.attempt-*.inprogress")):
            m = re.search(r"attempt-(\d+)\.inprogress$", stale)
            if m and int(m.group(1)) < att:
                try:
                    os.remove(stale)
                except OSError:
                    pass

    def commit(self) -> str:
        os.replace(self.tmp, self.path)
        return self.path


def map_slices(spark: SparkSession, slices: list, fn, schema) -> DataFrame:
    """The work-item frame of a scan-side job: task ``i`` of one
    shuffle-free stage runs ``fn(slices[i])``, an iterator of Arrow record
    batches in ``schema``, so ``TaskContext.partitionId()`` is ``i``.

    The frame is built in the JVM: ``spark.range(0, n, 1, n)`` puts one id
    in each partition, and each task looks its slice up in the closure.
    Each task thus starts one Python worker, the ``mapInArrow`` one; a
    ``parallelize`` frame starts a second one per task to emit the items.
    PySpark broadcasts a pickled closure over 1 MB once per executor, so
    a long slice list is not shipped with every task. No slices give an
    empty frame. A Python task's fixed cost was dominated by the per-task
    re-read of the import archives, which ``nail_parquet_spark._daemon``
    (the ``get_spark`` default) removes."""
    def run(batches):
        for batch in batches:
            for i in batch.column(0).to_pylist():
                yield from fn(slices[i])

    n = len(slices)
    return spark.range(0, n, 1, max(n, 1)).mapInArrow(run, schema)


def _fmt_of(path: str, fmt: str | None) -> str:
    if fmt:
        return fmt
    ext = os.path.splitext(path)[1].lower().lstrip(".")
    if ext in ("parquet", "pqt"):
        return "parquet"
    if ext == "csv":
        return "csv"
    if ext in ("json", "jsonl", "ndjson"):
        return "json"
    # compressed text interchange (the corpus-export convention:
    # shard-00000.jsonl.gz): format from the inner extension, the gzip
    # codec is applied by write_data / inferred by Spark's reader
    if path.endswith((".jsonl.gz", ".json.gz", ".ndjson.gz")):
        return "json"
    if path.endswith(".csv.gz"):
        return "csv"
    if ext == "orc":
        return "orc"
    if ext in ("xlsx", "xls"):
        return "xlsx"
    if ext in ("arrow", "feather", "ipc"):
        return "arrow"
    if path.endswith((".wet", ".wet.gz")):
        return "wet"
    if path.endswith((".warc", ".warc.gz")):
        return "warc"
    if os.path.isdir(path):
        # extensionless directory (a Spark/engine output dir): autodetect
        # from the files inside — recursive, so Hive-partitioned layouts
        # (batch=*/part-*.parquet) resolve too
        import glob

        def _visible(pattern: str) -> bool:
            # hidden-path convention: a _cdx/ index inside a WARC dir (or
            # _manifests inside a block dir) must not drive detection
            for f in glob.glob(os.path.join(path, "**", pattern), recursive=True):
                rel = os.path.relpath(f, path)
                if not any(seg.startswith(("_", "."))
                           for seg in rel.split(os.sep)):
                    return True
            return False

        for inner_ext in ("parquet", "orc", "csv", "json"):
            if _visible(f"*.{inner_ext}"):
                return inner_ext
        if _visible("*.arrow") or _visible("*.feather"):
            return "arrow"
        if _visible("*.wet*"):
            return "wet"
        if _visible("*.warc*"):
            return "warc"
    raise ValueError(f"unsupported extension '.{ext}' (utils/mod.rs:47-57)")


def read_data(spark: SparkSession, path: str, fmt: str | None = None) -> DataFrame:
    fmt = _fmt_of(path, fmt)
    if fmt == "parquet":
        return spark.read.parquet(path)
    if fmt == "csv":
        return spark.read.csv(path, header=True, inferSchema=True)
    if fmt == "json":
        return spark.read.json(path)
    if fmt == "orc":
        # beyond the reference's menu (io.rs has no ORC): Spark-native
        # columnar interchange with Hive/Trino warehouses
        return spark.read.orc(path)
    if fmt == "arrow":
        # Arrow IPC / Feather v2 (pandas/polars/duckdb interchange) —
        # distributed pyarrow scan, Spark ships no IPC datasource
        return read_arrow_ipc(spark, path)
    if fmt == "warc":
        # Common Crawl archives -> (url, warc_ts, warc_type, html)
        from nail_parquet_spark.sources.warc import read_warc

        return read_warc(spark, path)
    if fmt == "wet":
        # WET extracted-text sidecars: conversion records, text payload
        from pyspark.sql import functions as F

        from nail_parquet_spark.sources.warc import read_warc

        return (read_warc(spark, path, types=("conversion",))
                .select("url", "warc_ts",
                        F.decode(F.col("html"), "UTF-8").alias("text")))
    if fmt == "xlsx":
        # driver-side, like the reference (io.rs:36-165); stdlib reader, no
        # openpyxl needed. Explicit schema so empty sheets and all-NULL
        # columns don't hit Spark's can-not-infer errors.
        from nail_parquet_spark.sources.xlsx import read_xlsx

        pdf = read_xlsx(path)
        if len(pdf.columns) == 0:
            raise ValueError(f"xlsx sheet in {path} has no header row")
        parts = []
        for c in pdf.columns:
            k = pdf[c].dtype.kind
            t = {"i": "long", "u": "long", "f": "double", "b": "boolean"}.get(k, "string")
            if t == "string":
                pdf[c] = pdf[c].map(lambda v: None if v is None else str(v))
            parts.append(f"`{c}` {t}")
        return spark.createDataFrame(pdf, schema=", ".join(parts))
    raise ValueError(fmt)


def write_parquet_arrow(df: DataFrame, path: str, compression: str = "zstd",
                        compression_level: int | None = None,
                        mode: str = "overwrite") -> list:
    """Distributed parquet sink through the pyarrow C++ writer: each task
    writes its partition to one file (:class:`TaskFile`). Covers container codecs Spark's JVM
    writer lacks in this environment — brotli (the reference's compression
    menu, optimize.rs:47-108) works here because pyarrow ships the codec
    natively. Files written with brotli need a brotli-capable reader
    (``read_parquet_arrow`` below, pyarrow, duckdb, …) — a stock JVM Spark
    scan will refuse the container. Returns the (file, n_rows) manifest."""
    import shutil as _shutil

    import pyarrow as pa

    if mode == "overwrite":
        _shutil.rmtree(path, ignore_errors=True)
    elif mode != "append":
        raise ValueError(f"mode must be overwrite/append, got {mode!r}")
    os.makedirs(path, exist_ok=True)

    def sink(batches):
        import pyarrow.parquet as _pq

        out = TaskFile(path, "part", ".parquet")
        writer = None
        n_rows = 0
        for batch in batches:
            if writer is None:
                kw = {}
                if compression_level is not None:
                    kw["compression_level"] = compression_level
                writer = _pq.ParquetWriter(out.tmp, batch.schema,
                                           compression=compression, **kw)
            writer.write_batch(batch)
            n_rows += batch.num_rows
        if writer is not None:
            writer.close()
            yield pa.record_batch(
                [pa.array([out.commit()]), pa.array([n_rows], pa.int64())],
                names=["file", "n_rows"])

    return df.mapInArrow(sink, schema="file string, n_rows bigint").collect()


def read_parquet_arrow(spark: SparkSession, path: str) -> DataFrame:
    """Distributed parquet scan through the pyarrow C++ reader: task ``i``
    reads file ``i`` of the sorted listing (:func:`map_slices`, one stage,
    no shuffle). Reads container codecs the JVM scan lacks (brotli). Schema
    comes from the first file's footer; every batch is cast to it so mixed
    physical encodings across files still union."""
    import pyarrow.parquet as pq

    from nail_parquet_spark.codec.decode import _spark_ddl_of

    files = list_parquet_files(path)
    if not files:
        raise ValueError(f"no parquet files under {path}")
    schema = pq.read_schema(files[0])

    def scan(p):
        import pyarrow.parquet as _pq

        pf = _pq.ParquetFile(p)
        for g in range(pf.metadata.num_row_groups):
            tbl = pf.read_row_group(g, use_threads=False).cast(schema)
            yield from tbl.to_batches()

    return map_slices(spark, files, scan, _spark_ddl_of(schema))


def read_arrow_ipc(spark: SparkSession, path: str) -> DataFrame:
    """Distributed Arrow IPC / Feather-v2 scan (one task per file): the
    zero-copy interchange format pandas/polars/duckdb exchange. ``path`` is
    a single ``.arrow``/``.feather`` file or a directory of them (hidden
    segments skipped, Spark's convention). Task ``i`` reads file ``i``
    (:func:`map_slices`, one stage, no shuffle) and its record batches
    stream through ``mapInArrow`` — no JVM row conversion; the first file's
    schema wins and every batch is cast to it."""
    import glob as _glob

    import pyarrow.ipc as pi

    from nail_parquet_spark.codec.decode import _spark_ddl_of

    if os.path.isdir(path):
        files = []
        for pat in ("*.arrow", "*.feather", "*.ipc"):
            for f in _glob.glob(os.path.join(path, "**", pat), recursive=True):
                rel = os.path.relpath(f, path)
                if not any(seg.startswith(("_", "."))
                           for seg in rel.split(os.sep)):
                    files.append(f)
        files = sorted(files)
    else:
        files = [path]
    if not files:
        raise ValueError(f"no .arrow/.feather files under {path}")
    with pi.open_file(files[0]) as rd:
        schema = rd.schema

    def scan(p):
        import pyarrow as _pa
        import pyarrow.ipc as _pi

        with _pi.open_file(p) as rd:
            for i in range(rd.num_record_batches):
                tbl = _pa.Table.from_batches([rd.get_batch(i)])
                yield from tbl.cast(schema).to_batches()

    return map_slices(spark, files, scan, _spark_ddl_of(schema))


def write_arrow_ipc(df: DataFrame, path: str, compression: str | None = "zstd",
                    mode: str = "overwrite") -> list:
    """Distributed Arrow IPC / Feather-v2 sink: each task writes its
    partition to one ``part-NNNNN.arrow`` file (:class:`TaskFile`).
    ``compression`` is the IPC buffer codec (zstd/lz4/None). Returns the
    (file, n_rows) manifest."""
    import shutil as _shutil

    import pyarrow as pa

    if compression not in (None, "zstd", "lz4"):
        raise ValueError(
            f"arrow ipc compression must be zstd/lz4/None, got {compression!r}")
    if mode == "overwrite":
        _shutil.rmtree(path, ignore_errors=True)
    elif mode != "append":
        raise ValueError(f"mode must be overwrite/append, got {mode!r}")
    os.makedirs(path, exist_ok=True)

    def sink(batches):
        import pyarrow.ipc as _pi

        out = TaskFile(path, "part", ".arrow")
        writer = None
        n_rows = 0
        for batch in batches:
            if writer is None:
                opts = _pi.IpcWriteOptions(compression=compression)
                writer = _pi.new_file(out.tmp, batch.schema, options=opts)
            writer.write_batch(batch)
            n_rows += batch.num_rows
        if writer is not None:
            writer.close()
            yield pa.record_batch(
                [pa.array([out.commit()]), pa.array([n_rows], pa.int64())],
                names=["file", "n_rows"])

    return df.mapInArrow(sink, schema="file string, n_rows bigint").collect()


def write_data(df: DataFrame, path: str, fmt: str | None = None,
               mode: str = "overwrite", single_file: bool = False,
               compression: str | None = None,
               compression_level: int | None = None) -> None:
    """Write with an optional per-write parquet codec/level (the reference's
    FULL optimize compression menu, optimize.rs:47-108: snappy/gzip/zstd/
    brotli + level). brotli routes through the distributed pyarrow sink
    (``write_parquet_arrow``) since Spark's JVM writer has no brotli jar
    here; the other codecs use the JVM writer. ``compression_level``
    applies to zstd/brotli via the per-write option — it does NOT touch
    the session-wide default."""
    fmt = _fmt_of(path, fmt)
    out = df.coalesce(1) if single_file else df
    if fmt == "parquet":
        if compression == "brotli":
            if mode not in ("overwrite", "append"):
                raise ValueError(f"brotli parquet supports overwrite/append, got {mode!r}")
            write_parquet_arrow(out, path, compression="brotli",
                                compression_level=compression_level, mode=mode)
            return
        w = out.write.mode(mode)
        if compression:
            w = w.option("compression", compression)
            if compression_level is not None and compression == "zstd":
                w = w.option("parquet.compression.codec.zstd.level", str(compression_level))
        w.parquet(path)
    elif fmt == "orc":
        w = out.write.mode(mode)
        if compression:
            w = w.option("compression", compression)
        w.orc(path)
    elif fmt == "arrow":
        if mode not in ("overwrite", "append"):
            raise ValueError(f"arrow ipc supports overwrite/append, got {mode!r}")
        comp = (None if compression in ("none", "uncompressed")
                else compression or "zstd")
        write_arrow_ipc(out, path, compression=comp, mode=mode)
    elif fmt in ("warc", "wet"):
        # WARC/WET export: needs (url, warc_ts, html|text)-shaped columns
        from nail_parquet_spark.sources.warc import write_warc

        wet = fmt == "wet"
        body = "text" if wet and "text" in out.columns else "html"
        write_warc(out, path, body_col=body, wet=wet,
                   compress=path.endswith(".gz")
                   or compression in (None, "gzip"))
    elif fmt == "csv":
        w = out.write.mode(mode).option("header", True)
        if compression is None and path.endswith(".gz"):
            compression = "gzip"  # .csv.gz convention
        if compression:
            w = w.option("compression", compression)
        w.csv(path)
    elif fmt == "json":
        w = out.write.mode(mode)
        if compression is None and path.endswith(".gz"):
            compression = "gzip"  # .jsonl.gz convention
        if compression:
            w = w.option("compression", compression)
        w.json(path)
    elif fmt == "xlsx":
        # driver-side like the reference (io.rs:200-322); Excel caps a sheet
        # at 1,048,576 rows incl. header
        from nail_parquet_spark.sources.xlsx import write_xlsx

        write_xlsx(df.limit(1_048_575).toPandas(), path)
    else:
        raise ValueError(fmt)


def convert(spark: SparkSession, src: str, dst: str,
            src_fmt: str | None = None, dst_fmt: str | None = None) -> dict:
    """Format conversion (convert.rs:30-57); returns rows/cols like the
    reference logs."""
    df = read_data(spark, src, src_fmt)
    write_data(df, dst, dst_fmt)
    return {"rows": df.count(), "cols": len(df.columns)}
