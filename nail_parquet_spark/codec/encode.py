"""Distributed encode stage: DataFrame -> encoded-blocks DataFrame.

One output row per (partition, block, column) — the Spark-native analogue of
a parquet column chunk plus its footer metadata entry (what `nail metadata
--column-chunks` dumps, /root/reference/src/commands/metadata.rs:217-273),
except blocks are first-class queryable data.

All encoding happens inside ``mapInArrow`` (Arrow batches end-to-end, no
per-row Python). Codec choice is one driver-side pass per job: a sampler
(the first rows of the DataFrame, read by one task in partition order, or
the first (file, row group) work item of a parquet scan) feeds the one
planner, ``_plan_codecs``. The ``codecs`` override pins columns instead —
the analogue of nail-parquet's ``optimize --compression/--dictionary``
knobs. The scan-side encode deals its work items into per-task slices
that run as one shuffle-free stage over a JVM-built frame
(``sources.io.map_slices``).
"""

from __future__ import annotations

import datetime as _dt_mod
import re as _re_mod

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame
from pyspark.sql.pandas.types import from_arrow_schema

from nail_parquet_spark.codec.bloom import bloom_build, parse_bloom_spec as _parse_bloom
from nail_parquet_spark.codec.kernels import encode_array, kind_of, xref_ref_of
from nail_parquet_spark.codec.select import choose_codec, raw_bytes_of, xref_upgrade
from nail_parquet_spark.codec.zonemap import render
from nail_parquet_spark.sources.io import TaskFile, map_slices

# rows per codec-selection sample
SAMPLE_ROWS = 8192

# the block table, one row per (part, block, column); the Spark schema and
# the canonical column list (compaction, purge) derive from it
BLOCKS_SCHEMA = pa.schema([
    ("part_id", pa.int32()), ("block_id", pa.int64()), ("column", pa.string()),
    ("codec", pa.string()), ("n_rows", pa.int64()), ("raw_bytes", pa.int64()),
    ("enc_bytes", pa.int64()), ("null_count", pa.int64()), ("min_val", pa.string()),
    ("max_val", pa.string()), ("distinct_est", pa.int64()), ("header", pa.string()),
    ("payload", pa.binary()), ("bloom", pa.binary()),
])

# encode_parquet_dir's per-task lineage row
MANIFEST_SCHEMA = pa.schema([
    ("file", pa.string()), ("part_id", pa.int32()), ("n_blocks", pa.int64()),
    ("n_rows", pa.int64()), ("raw_bytes", pa.int64()), ("enc_bytes", pa.int64()),
    ("columns", pa.string()), ("wall_s", pa.float64()), ("mbps", pa.float64()),
    ("ratio", pa.float64()),
])


def _stat_strings(arr: pa.Array) -> tuple[str | None, str | None, int]:
    kind = kind_of(arr.type)
    sample = arr.slice(0, 8192)
    try:
        distinct = int(pc.count_distinct(sample).as_py() or 0)
    except Exception:
        distinct = -1
    if kind in ("bin", "list") or len(arr) == arr.null_count:
        return None, None, distinct
    try:
        mm = pc.min_max(arr)
        mn_v, mx_v = mm["min"].as_py(), mm["max"].as_py()
        if kind == "float":
            nan_mask = pc.is_nan(arr)
            if pc.any(nan_mask).as_py():
                # arrow min_max skips NaN, but Spark/DuckDB order NaN
                # LARGEST: the exact max of a NaN-bearing block is NaN, and
                # the exact min is the non-NaN min — or NaN when every
                # non-null value is NaN (arrow then reports the +inf/-inf
                # identity elements, not the data). try_cast('nan' AS
                # double) parses back, so zone pruning and stats pushdown
                # stay exact.
                mx_v = float("nan")
                n_real = len(arr) - arr.null_count - pc.sum(nan_mask).as_py()
                if n_real == 0:
                    mn_v = float("nan")
        if mn_v is None or mx_v is None:
            return None, None, distinct
        return render(mn_v), render(mx_v), distinct
    except Exception:
        return None, None, distinct


def _sum_string(arr: pa.Array) -> "str | None":
    """Exact per-block SUM stamped into the block header (key ``zsum``) so
    SUM/AVG join count/min/max in the no-payload-scan aggregate pushdown
    (codec/inspect.column_stats_pushdown ``with_sum``).

    Integers sum in arbitrary precision: the int64 values split into
    high/low 32-bit halves whose numpy partial sums cannot overflow for
    any block under 2^30 rows, then recombine as Python ints — the stored
    decimal string is the true sum, never a wrapped one. Floats carry
    arrow's pairwise sum (deterministic for the block's content; merged
    float sums are summation-order-defined, documented at the read side).
    Non-numeric kinds return None; all-null blocks store the SUM identity
    (0), which is correct because the reader nulls the global sum when the
    non-null count is zero."""
    t = arr.type
    if pa.types.is_integer(t):
        v = np.asarray(arr.drop_null(), dtype=np.int64)
        if v.size == 0:
            return "0"
        hi = int((v >> 32).sum(dtype=np.int64))
        lo = int((v & 0xFFFFFFFF).sum(dtype=np.int64))
        return str((hi << 32) + lo)
    if pa.types.is_floating(t):
        s = pc.sum(arr).as_py()
        return repr(float(s)) if s is not None else "0.0"
    return None


def _plan_codecs(
    sample: dict[str, pa.Array], columns: list[str], pinned: dict[str, str],
    policy: str = "balanced", min_mbps: float = 40.0,
    bloom: "dict | None" = None,
) -> dict[str, str]:
    """The one codec planner behind every encode path: ``choose_codec`` for
    each of ``columns`` over its ``sample`` array, then the cross-column
    ``xref_upgrade``, then the xref and ``bloom`` (a parsed bloom spec)
    checks against the encoded columns (``columns`` plus ``pinned``).

    ``pinned`` codecs are kept as given. Pinned str/bin columns in the
    sample are offered to the xref upgrade as references; other kinds can
    never be references. Returns the codec of every encoded column."""
    chosen = dict(pinned)
    if columns:
        refs = [c for c in sample if c in pinned and c not in columns
                and kind_of(sample[c].type) in ("str", "bin")]
        arrs = {c: sample[c] for c in [*columns, *refs]}
        for c in columns:
            chosen[c] = choose_codec(arrs[c], policy=policy, min_mbps=min_mbps)[0]
        chosen = xref_upgrade(arrs, chosen, policy=policy, min_mbps=min_mbps,
                              upgradable=list(columns))
    _validate_codecs(chosen, list(chosen))
    bad = [c for c in (bloom or {}) if c not in chosen]
    if bad:
        raise ValueError(f"bloom_columns not among encoded columns: {bad}")
    return chosen


def _sample_df(df: DataFrame, columns: list[str], pinned: dict[str, str],
               n: "int | None" = None) -> dict[str, pa.Array]:
    """The DataFrame sampler: the first ``n`` (default ``SAMPLE_ROWS``)
    rows of ``columns`` and the pinned columns — or nothing, when there is
    no codec to choose.

    Cost: one Spark job; over a scan, one stage of one task and no
    shuffle (a shuffle in ``df``'s own plan keeps its map stage, and the
    one task reads its output). The task reads ``df``'s partitions in
    order (``coalesce(1)``) and stops once it has ``n`` rows, so the sample
    is the first ``n`` rows in partition order, and an unfiltered table is
    read only up to them. A DataFrame filtered below ``n`` rows is read
    whole, by that one task. A plain ``limit(n)`` collect instead runs a
    local limit in every partition and shuffles up to ``n`` rows from each
    to one reducer."""
    if not columns:
        return {}
    cols = list(dict.fromkeys([*columns, *pinned]))
    tbl = df.select(*cols).coalesce(1).limit(SAMPLE_ROWS if n is None else n).toArrow()
    return {c: tbl.column(c).combine_chunks() for c in cols}


def choose_codecs_for_df(
    df: DataFrame, columns: list[str], policy: str = "balanced",
    min_mbps: float = 40.0, pinned: dict[str, str] | None = None,
) -> dict[str, str]:
    """One driver-side sampled selection pass -> codec decision table,
    broadcast to all encoder tasks (SURVEY.md §4.3 'codec auto-selector').

    Selecting once per job (not once per partition) keeps trial-encode cost
    out of the hot path — at 1000 executors the alternative is 1000
    redundant trial encodes per column.

    ``pinned`` columns keep their caller-forced codec; the str/bin ones may
    serve the xref upgrade as references. Returns choices for ``columns``
    only."""
    pinned = dict(pinned or {})
    chosen = _plan_codecs(_sample_df(df, columns, pinned), columns, pinned,
                          policy, min_mbps)
    return {c: chosen[c] for c in columns}


def _validate_codecs(chosen: dict[str, str], cols: list[str]) -> None:
    """xref codecs must reference another encoded, non-xref column (the
    reference must decode independently — no chains, no cycles)."""
    for c, codec in chosen.items():
        ref = xref_ref_of(codec)
        if ref is None:
            continue
        if ref not in cols:
            raise ValueError(
                f"column {c!r} uses codec {codec!r} but reference column "
                f"{ref!r} is not among the encoded columns {sorted(cols)}"
            )
        if xref_ref_of(chosen.get(ref, "plain")):
            raise ValueError(
                f"xref chain: {c!r} references {ref!r} which is itself "
                f"xref-encoded ({chosen[ref]!r}) — references must use an "
                "independent codec"
            )


def encode_table(
    df: DataFrame,
    columns: list[str] | None = None,
    codecs: dict[str, str] | None = None,
    policy: str = "balanced",
    block_rows: int = 65536,
    bloom_columns: "list[str] | None" = None,
) -> DataFrame:
    """Encode selected columns of ``df`` into a blocks DataFrame.

    ``bloom_columns``: opt-in per-block bloom bitmaps for equality
    pushdown (codec/bloom.py); str/int columns only. "col:<P>" entries
    (or a {col: P} dict) also insert P-byte prefix keys for string-prefix
    pushdown."""
    cols = columns or df.columns
    bloom = _parse_bloom(bloom_columns)
    pinned = {c: v for c, v in (codecs or {}).items() if c in cols}
    missing = [c for c in cols if c not in pinned]
    chosen = _plan_codecs(_sample_df(df, missing, pinned), missing, pinned,
                          policy, bloom=bloom)
    proj = df.select(*cols)

    def enc(batches):
        from pyspark import TaskContext

        ctx = TaskContext.get()
        pid = ctx.partitionId() if ctx is not None else 0
        block_id = 0

        def chunks():
            # coalesce small scan batches into full blocks, slice big ones
            pending: list[pa.RecordBatch] = []
            n_pending = 0
            for batch in batches:
                pending.append(batch)
                n_pending += batch.num_rows
                if n_pending >= block_rows:
                    tbl = pa.Table.from_batches(pending).combine_chunks()
                    for off in range(0, tbl.num_rows - block_rows + 1, block_rows):
                        yield tbl.slice(off, block_rows)
                    rem = tbl.num_rows % block_rows
                    if rem:
                        tail = tbl.slice(tbl.num_rows - rem)
                        pending = tail.to_batches()
                        n_pending = rem
                    else:
                        pending, n_pending = [], 0
            if n_pending:
                yield pa.Table.from_batches(pending).combine_chunks()

        for chunk in chunks():
            yield _encode_chunk(chunk, cols, chosen, bloom, pid, block_id)
            block_id += 1

    return proj.mapInArrow(enc, schema=from_arrow_schema(BLOCKS_SCHEMA))


def _encode_chunk(chunk: pa.Table, cols, chosen, bloom, part_id,
                  block_id) -> pa.RecordBatch:
    """Encode one row chunk into one block row per column, zone stats
    included. ``bloom`` (a parsed bloom spec) names the columns that get a
    per-block bloom bitmap (equality pushdown, codec/bloom.py)."""
    arrs = {c: chunk.column(c).combine_chunks() for c in cols}
    rows = []
    for c in cols:
        arr = arrs[c]
        ref = xref_ref_of(chosen[c])
        blk = encode_array(arr, chosen[c], ref_arr=arrs[ref] if ref else None)
        mn, mx, dist = _stat_strings(arr)
        zs = _sum_string(arr)
        if zs is not None:
            blk.header["zsum"] = zs  # before header_json below
        header = blk.header_json()
        spec = bloom.get(c)
        rows.append({
            "part_id": part_id, "block_id": block_id, "column": c,
            "codec": blk.header["codec"], "n_rows": chunk.num_rows,
            "raw_bytes": raw_bytes_of(arr),
            "enc_bytes": len(blk.payload) + len(header),
            "null_count": arr.null_count, "min_val": mn, "max_val": mx,
            "distinct_est": dist, "header": header, "payload": blk.payload,
            "bloom": None if spec is None else bloom_build(
                arr, prefix_len=spec[0], ngram_len=spec[1]),
        })
    return pa.RecordBatch.from_pylist(rows, schema=BLOCKS_SCHEMA)


def _hive_partition_values(rel_dir: str) -> dict[str, "str | None"]:
    """Parse ``key=value`` directory segments the way spark.read.parquet
    does: URL-decoding values and mapping the __HIVE_DEFAULT_PARTITION__
    sentinel to NULL. Hidden/_-prefixed segments are never partitions."""
    import os as _os
    from urllib.parse import unquote as _unquote

    out: dict[str, str | None] = {}
    for seg in rel_dir.split(_os.sep):
        if "=" in seg and not seg.startswith((".", "_")):
            k, v = seg.split("=", 1)
            out[k] = None if v == "__HIVE_DEFAULT_PARTITION__" else _unquote(v)
    return out


_PART_LONG_RE = _re_mod.compile(r"^[+-]?\d+$")
_PART_DOUBLE_RE = _re_mod.compile(r"^[+-]?(\d+\.?\d*|\.\d+)([eE][+-]?\d+)?$")
_PART_DATE_RE = _re_mod.compile(r"^\d{4}-\d{2}-\d{2}$")


def _infer_partition_type(values) -> str:
    """Spark-parity partition value type inference over ALL of a key's
    directory values (PartitioningUtils' long -> decimal -> double -> date
    chain, Spark-parity tested vs spark.read.parquet): every literal must
    match a STRICT pinned regex — Python's looser ``int()``/``float()``
    would accept underscores ('1_5' -> 15), whitespace and 'inf'/'nan',
    silently rewriting directory strings (ADVICE r4). Integer literals
    overflowing int64 become decimal(p,0) with p = max digit count, exactly
    as Spark does; >38 digits falls to string (never a lossy double).
    Returns 'long' | 'decimal(p,0)' | 'double' | 'date' | 'string'.

    Pinned divergences from Spark (both lossless fall-to-string or
    stricter): 'Infinity'/'NaN' literals type string here (Spark: double);
    scientific-notation integers like '1E5' type double here (Spark:
    decimal via BigDecimal scale rules); timestamps fall to string.
    All-NULL keys stay string."""
    vals = [v for v in values if v is not None]
    if not vals:
        return "string"
    if all(_PART_LONG_RE.match(v) for v in vals):
        if all(-(2**63) <= int(v) < 2**63 for v in vals):
            return "long"
        digits = max(len(v.lstrip("+-").lstrip("0") or "0") for v in vals)
        return f"decimal({digits},0)" if digits <= 38 else "string"
    if all(_PART_DOUBLE_RE.match(v) for v in vals):
        return "double"
    if all(_PART_DATE_RE.match(v) for v in vals):
        try:
            for v in vals:
                _dt_mod.date.fromisoformat(v)
            return "date"
        except ValueError:
            return "string"
    return "string"


def _plan_parquet_encode(spark, path, columns, codecs, policy, num_partitions,
                         bloom):
    """Planning for the scan-side encode: enumerate (file, row-group) work
    items, pick codecs from the first work item's row group (the parquet
    sampler feeding ``_plan_codecs``), and deal the items into per-task
    slices.

    Hive-partitioned layouts (``key=value`` directory segments between the
    input root and the files) are MATERIALIZED: each partition column
    becomes a per-file constant column in the encode, matching
    spark.read.parquet's behavior (ADVICE r3 — the footer-based reader
    would otherwise silently drop them), typed by directory-wide value
    inference (long/double/string — see ``_infer_partition_type``; Spark's
    decimal/date branches fall through to string). Inference looks at the
    key=value directories actually listed in THIS call, so passing an
    explicit file subset (e.g. one resume batch) never parses partitions
    at all — only dir inputs do.

    Returns (slices, all_cols, chosen, part_info) where slices[i] lists
    task i's (file, row group) items and part_info is
    (part_cols, {file_path: {key: value}}, {key: type}), empty for flat
    layouts."""
    import os as _os

    import pyarrow.parquet as _pq

    from nail_parquet_spark.sources.io import list_parquet_files

    paths = []
    part_vals: dict[str, dict[str, str | None]] = {}
    part_keys: set[str] = set()
    for p in [path] if isinstance(path, str) else list(path):
        if _os.path.isdir(p):
            # recursive, matching decode/autodetect conventions;
            # hidden/_-prefixed segments (_temporary leftovers, _manifests)
            # are skipped the way Spark's own reader skips them
            root = _os.path.abspath(p)
            for f in list_parquet_files(p):
                paths.append(f)
                rel_dir = _os.path.dirname(_os.path.relpath(_os.path.abspath(f), root))
                vals = _hive_partition_values(rel_dir)
                if vals:
                    part_vals[f] = vals
                    part_keys.update(vals)
        else:
            paths.append(p)
    if not paths:
        raise ValueError(f"no parquet files under {path}")
    part_cols = sorted(part_keys)

    # work items: one per row group (bounded task size regardless of file size)
    items = []
    for p in paths:
        md = _pq.ParquetFile(p).metadata
        for rg in range(md.num_row_groups):
            items.append((p, rg))

    # the first work item, not the first file: a leading file may hold no
    # row group at all
    first = _pq.ParquetFile(items[0][0] if items else paths[0])
    if columns:
        all_cols = list(columns)
        part_cols = [c for c in part_cols if c in all_cols]
    else:
        all_cols = first.schema_arrow.names + part_cols
    part_types = {
        k: _infer_partition_type([kv.get(k) for kv in part_vals.values()])
        for k in part_cols
    }
    pinned = {c: v for c, v in (codecs or {}).items() if c in all_cols}
    for c in part_cols:
        # per-file constants: rle is optimal and needs no sampling (float
        # kind has no rle kernel — zstd over the constant runs instead;
        # decimal has no typed kernel at all and rides the ipc_zstd
        # fallback, for which any requested codec is a no-op)
        pinned.setdefault(c, "zstd" if part_types[c] == "double" else "rle")
    missing = [c for c in all_cols if c not in pinned]
    if not items:
        # legal: a fully-filtered corpus writes a 0-row-group parquet file;
        # encode then produces an empty block table (no sampling possible,
        # codec choice moot — pin the generic fallback)
        pinned.update(dict.fromkeys(missing, "zstd"))
        missing = []
    sample = {}
    if missing:
        file_cols = [c for c in all_cols if c not in part_cols]
        tbl = first.read_row_group(items[0][1], columns=file_cols)
        sample = {c: tbl.column(c).combine_chunks().slice(0, SAMPLE_ROWS)
                  for c in file_cols}
    chosen = _plan_codecs(sample, missing, pinned, policy, bloom=bloom)

    # num_partitions pins job parallelism (concurrent tasks) independently of
    # the session master — the scaling bench uses it to run the same job at
    # two parallelism levels inside one JVM. Round-robin the items across
    # slices, one task each (map_slices: no repartition = no extra shuffle
    # stage; a fixed per-job stage taxes the high-parallelism level
    # relatively more).
    n_parts = num_partitions or min(len(items), spark.sparkContext.defaultParallelism * 4)
    slices = [items[i::n_parts] for i in range(min(n_parts, len(items)))]
    # keep only the (file -> value) entries for materialized columns so the
    # task closure stays O(files x partition depth)
    part_info = (part_cols,
                 {f: {k: v for k, v in kv.items() if k in part_cols}
                  for f, kv in part_vals.items()} if part_cols else {},
                 {k: t for k, t in part_types.items() if k in part_cols})
    return slices, all_cols, chosen, part_info


def _with_partition_columns(tbl: "pa.Table", file_path: str,
                            part_info) -> "pa.Table":
    """Append the file's Hive partition values as constant columns typed by
    the directory-wide inference (long/decimal/double/date/string, matching
    spark.read.parquet's partitionColumnTypeInference; NULL for files that
    lack a key — mixed layouts)."""
    part_cols, part_vals, part_types = part_info
    if not part_cols:
        return tbl
    vals = part_vals.get(file_path, {})
    n = tbl.num_rows
    for k in part_cols:
        v = vals.get(k)
        t = part_types.get(k, "string")
        if t == "long":
            arr = pa.array([None if v is None else int(v)] * n, pa.int64())
        elif t == "double":
            arr = pa.array([None if v is None else float(v)] * n, pa.float64())
        elif t.startswith("decimal("):
            prec = int(t[len("decimal("):-1].split(",")[0])
            arr = pa.array([None if v is None else int(v)] * n,
                           pa.decimal128(prec, 0))
        elif t == "date":
            d = None if v is None else _dt_mod.date.fromisoformat(v)
            arr = pa.array([d] * n, pa.date32())
        else:
            arr = pa.array([v] * n, pa.string())
        tbl = tbl.append_column(k, arr)
    return tbl


def encode_parquet_dir(
    spark,
    path: str | list[str],
    out_dir: str,
    columns: list[str] | None = None,
    codecs: dict[str, str] | None = None,
    policy: str = "balanced",
    block_rows: int = 65536,
    num_partitions: int | None = None,
    compression: str = "none",
    bloom_columns: "list[str] | None" = None,
) -> DataFrame:
    """Scan-side encode with a PYTHON-side parquet sink, all in ONE task
    function: each task reads its (file, row-group) work items with the C++
    reader, encodes, and writes the block rows straight to its own parquet
    file — the mirror of ``decode_parquet_dir``. Zero shuffle and zero raw
    OR encoded bytes crossing the Python->JVM boundary: only a per-task
    lineage manifest row (file, rows, bytes) returns. This is the production
    sink path for the 100-TB pipeline; the per-task manifests are the
    Iceberg-commit-shaped lineage records, and group-complete block files
    feed the shuffle-free ``decode_parquet_dir``.

    Why scan-side: ``encode_table`` pays the JVM columnar->Arrow->socket
    conversion for every raw byte (measured ~5 MB/s/core on binary-heavy
    columns — the pandas-UDF tax). The kernels consume Arrow natively, so
    here Spark only schedules the work items (locality, retries and
    speculation still apply) — the pattern Petastorm/Ray datasets use, and
    how the pipeline would front an Iceberg table: the work items come from
    the table's file manifest. The blocks table is
    ``spark.read.parquet(out_dir)``.

    Container ``compression`` defaults to none: payloads are already
    codec-compressed, so a container codec only burns CPU re-compressing
    incompressible bytes."""
    import os as _os

    import pyarrow.parquet as _pq

    bloom = _parse_bloom(bloom_columns)
    slices, all_cols, chosen, part_info = _plan_parquet_encode(
        spark, path, columns, codecs, policy, num_partitions, bloom
    )
    file_cols = [c for c in all_cols if c not in part_info[0]]
    _os.makedirs(out_dir, exist_ok=True)

    def enc_sink(items):
        import time as _time

        from pyspark import TaskContext

        ctx = TaskContext.get()
        tid = ctx.partitionId() if ctx is not None else 0
        out = TaskFile(out_dir, "blocks", ".parquet")

        t0 = _time.time()
        writer = None
        block_id = 0
        n_blocks = n_rows = raw = enc_b = 0
        try:
            for p, rg in items:
                # use_threads=False: a Spark task owns ONE core; pyarrow's
                # default pool would oversubscribe the executor
                tbl = _pq.ParquetFile(p).read_row_group(
                    rg, columns=file_cols, use_threads=False
                )
                tbl = _with_partition_columns(tbl, p, part_info)
                for off in range(0, tbl.num_rows, block_rows):
                    chunk = tbl.slice(off, min(block_rows, tbl.num_rows - off))
                    rb = _encode_chunk(chunk, all_cols, chosen, bloom, tid, block_id)
                    block_id += 1
                    if writer is None:
                        writer = _pq.ParquetWriter(out.tmp, BLOCKS_SCHEMA,
                                                   compression=compression)
                    writer.write_batch(rb)
                    n_blocks += rb.num_rows
                    n_rows += chunk.num_rows
                    raw += sum(rb.column("raw_bytes").to_pylist())
                    enc_b += sum(rb.column("enc_bytes").to_pylist())
        finally:
            if writer is not None:
                writer.close()
        if writer is not None:
            out_path = out.commit()
            wall = _time.time() - t0
            yield pa.RecordBatch.from_pylist([{
                "file": out_path, "part_id": tid, "n_blocks": n_blocks,
                "n_rows": n_rows, "raw_bytes": raw, "enc_bytes": enc_b,
                "columns": ",".join(sorted(all_cols)), "wall_s": round(wall, 3),
                "mbps": round(raw / wall / 1e6, 2) if wall else 0.0,
                "ratio": round(raw / enc_b, 4) if enc_b else 0.0,
            }], schema=MANIFEST_SCHEMA)

    return map_slices(spark, slices, enc_sink, from_arrow_schema(MANIFEST_SCHEMA))
