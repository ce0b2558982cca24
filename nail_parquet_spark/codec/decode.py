"""Distributed decode stage: encoded-blocks DataFrame -> original table.

Blocks of one (part_id, block_id) group are co-located by a hash
repartition, ordered within the partition, then streamed through
``mapInArrow``: each completed group decodes its per-column payloads back to
Arrow arrays and emits a record batch of the original schema. The parquet
sink (:func:`decode_to_parquet`) skips that shuffle for a bare scan of
local block files, where every file-keyed group lies inside one file: one
task reads, sorts and decodes each file. Both feed the same group assembly
(:func:`_iter_groups`). Row order is not preserved across the round trip
(verification joins on a key — per the north rule, byte-identical ``text``
per ``url``).
"""

from __future__ import annotations

import os

import pyarrow as pa
from pyspark.sql import DataFrame, functions as F

from nail_parquet_spark.codec import zonemap
from nail_parquet_spark.codec.blockindex import (BlockIndex, _local_path,
                                                 _src_expr_frame)
from nail_parquet_spark.codec.kernels import EncodedBlock, decode_array
from nail_parquet_spark.sources.io import TaskFile, map_slices


def _schema_from_headers(headers: dict[str, dict], columns: list[str]) -> pa.Schema:
    from nail_parquet_spark.codec.kernels import _type_from_str

    types = {c: _type_from_str(h["type"]) for c, h in headers.items()}
    unknown = [c for c in columns if c not in types]
    if unknown:
        raise ValueError(
            f"columns {unknown} not present in the blocks table "
            f"(encoded columns: {sorted(types)})"
        )
    # Spark's Arrow bridge rejects nanosecond timestamps (e.g. from INT96
    # parquet read via pyarrow) — decode to micros instead, lossless for
    # data that originated at micro precision
    for c, t in types.items():
        if pa.types.is_timestamp(t) and t.unit == "ns":
            types[c] = pa.timestamp("us", tz=t.tz)
    return pa.schema([(c, types[c]) for c in columns])


def _fetch_closure(headers: dict[str, dict], refs: dict[str, set],
                   columns: list[str]) -> list[str]:
    """Columns whose blocks must be FETCHED to decode ``columns``: xref
    codecs (kernels.py) pull in their reference column even when the caller
    didn't request it (column-subset decode of an xref column alone)."""
    fetch = list(columns)
    i = 0
    while i < len(fetch):
        c = fetch[i]
        i += 1
        for ref in sorted(refs.get(c, ())):
            if ref not in fetch:
                if ref not in headers:
                    raise ValueError(
                        f"column {c!r} is xref-encoded against {ref!r} "
                        "which is missing from the blocks table"
                    )
                fetch.append(ref)
    return fetch


def _grouped(blocks: DataFrame, fetch_cols: list[str], file_keyed: bool,
             pre_grouped: bool = False) -> DataFrame:
    """(source-file, part_id, block_id, column, header, payload) rows of the
    ``fetch_cols`` blocks, each group's rows adjacent within one partition:
    co-located by a hash repartition and sorted, unless ``pre_grouped``
    says they already are. Columns are restricted BEFORE grouping, so the
    shuffle carries only fetched payloads.

    The source file disambiguates block groups across independently-run
    encode jobs (each restarts partition ids at 0 — e.g. the batch dirs of a
    resumable out_dir): without it, equal-numbered blocks of different rows
    would merge into one group. Encode writers emit whole groups per file,
    so (file, part_id, block_id) is unique. Plans where
    ``input_file_name()`` is undefined (multi-source unions/joins, or blocks
    that never touched disk) fall back to a constant — correct for the
    single job that produced such a DataFrame.

    ``file_keyed=False`` drops the file from the key — needed for block
    tables that were repartitioned/compacted AFTER encoding (groups may span
    files there), and only safe when ALL blocks come from one encode job."""
    base = ["part_id", "block_id", "column", "header", "payload"]
    if file_keyed:
        part = _src_expr_frame(blocks, warn=True).select("__src", *base)
    else:
        part = blocks.select(F.lit("").alias("__src"), *base)
    part = part.filter(F.col("column").isin(fetch_cols))
    if pre_grouped:
        return part
    return (part.repartition("__src", "part_id", "block_id")
            .sortWithinPartitions("__src", "part_id", "block_id"))


def _fill_missing(missing_columns: str) -> bool:
    """True for ``missing_columns="null"`` (null-fill), False for
    ``"error"`` (refuse incomplete groups)."""
    if missing_columns not in ("error", "null"):
        raise ValueError("missing_columns must be 'error' or 'null'")
    return missing_columns == "null"


def _iter_groups(batches, columns, strict: bool = True, with_key: bool = False):
    """Shared group-assembly state machine of every decode: rows arrive
    sorted by (src, part_id, block_id); flush on key transition,
    validate the requested columns per group, and refuse duplicate
    (group, column) rows — a duplicate means two distinct groups share a key
    (e.g. a union of in-memory encode jobs where the file key is empty) and
    silently overwriting would return row-misaligned data.

    ``strict=False`` (schema evolution) skips the completeness check:
    groups encoded before a column existed yield partial dicts and the
    decoder null-fills them.

    ``with_key=True`` yields ``(key, grp)`` pairs instead of bare group
    dicts — the position-decode path needs the (src, part_id, block_id)
    coordinates to stamp row positions."""
    cur_key = None
    grp: dict[str, tuple[str, bytes]] = {}

    def check_complete():
        if not strict:
            return
        missing = [c for c in columns if c not in grp]
        if missing:
            raise ValueError(
                f"block group {cur_key} is missing requested columns "
                f"{missing}{_GROUP_HINT}"
            )

    def emit(key):
        return (key, grp) if with_key else grp

    for batch in batches:
        srcs = batch.column(0).to_pylist()
        pids = batch.column(1).to_pylist()
        bids = batch.column(2).to_pylist()
        cols_ = batch.column(3).to_pylist()
        hdrs = batch.column(4).to_pylist()
        pays = batch.column(5)
        for i in range(batch.num_rows):
            key = (srcs[i], pids[i], bids[i])
            if key != cur_key:
                if grp:
                    check_complete()
                    yield emit(cur_key)
                cur_key = key
                grp = {}
            if cols_[i] in grp:
                raise ValueError(
                    f"duplicate block for column {cols_[i]!r} in group "
                    f"{key}: two encode jobs produced colliding group ids "
                    "(decode the dirs separately or run compact_blocks first)"
                )
            grp[cols_[i]] = (hdrs[i], pays[i].as_py())
    if grp:
        check_complete()
        yield emit(cur_key)


_GROUP_HINT = (
    " (if this blocks table was repartitioned or rewritten after encoding so "
    "groups span files, pass file_keyed=False — only safe when all blocks "
    "come from ONE encode job — or re-key it with "
    "nail_parquet_spark.codec.compact.compact_blocks, which restores whole "
    "groups per file and decodes under either mode)"
)


def _decode_group(grp: dict[str, tuple[str, bytes]], columns: list[str],
                  out_schema: pa.Schema,
                  fill_missing: bool = False) -> pa.RecordBatch:
    """Decode one complete (part_id, block_id) group, resolving xref
    dependencies in order (a reference is decoded once and reused).

    ``fill_missing=True`` (schema evolution): a requested column with no
    block in this group decodes to all-NULL at the group's row count (taken
    from any present block's header — no payload decode needed), the
    Iceberg add-column read semantics."""
    blks = {c: EncodedBlock.from_parts(h, pl) for c, (h, pl) in grp.items()}
    cache: dict[str, pa.Array] = {}

    def get(c: str, seen: tuple = ()) -> pa.Array:
        if c in cache:
            return cache[c]
        blk = blks[c]
        if blk.header["codec"] == "xref":
            ref = blk.header["params"]["ref"]
            if ref in seen or ref == c:
                raise ValueError(f"xref cycle decoding {c!r} -> {ref!r}")
            if ref not in blks:
                raise ValueError(
                    f"block group missing xref reference column {ref!r} "
                    f"needed to decode {c!r}"
                )
            arr = decode_array(blk, ref_arr=get(ref, seen + (c,)))
        else:
            arr = decode_array(blk)
        cache[c] = arr
        return arr

    arrays = []
    n_rows = next(iter(blks.values())).header["n"] if blks else 0
    for i, c in enumerate(columns):
        ft = out_schema.field(i).type
        if fill_missing and c not in blks:
            arrays.append(pa.nulls(n_rows, ft))
            continue
        arr = get(c)
        if arr.type != ft:
            arr = arr.cast(ft)
        arrays.append(arr)
    return pa.record_batch(arrays, schema=out_schema)


def _spark_ddl_of(schema: pa.Schema) -> str:
    from pyspark.sql.pandas.types import from_arrow_type

    parts = []
    for f in schema:
        parts.append(f"`{f.name}` {from_arrow_type(f.type).simpleString()}")
    return ", ".join(parts)


def _columns(headers: dict, columns, *extra) -> tuple[list[str], list[str]]:
    """(output columns: ``columns`` or every column, columns to decode:
    the output plus the ``extra`` predicate and order columns)."""
    out = list(columns) if columns is not None else sorted(headers)
    return out, out + [c for c in dict.fromkeys(extra)
                       if c is not None and c not in out]


def _empty(blocks: DataFrame, headers: dict, columns: list[str]) -> DataFrame:
    """An empty frame typed like the decode of ``columns``."""
    return blocks.sparkSession.createDataFrame(
        [], _spark_ddl_of(_schema_from_headers(headers, columns)))


# reserved row-coordinate columns appended by decode_table(with_positions=
# True): the (block-file, part, block, row-offset) address of a decoded row —
# the same shape as an Iceberg v2 position-delete coordinate (file_path, pos),
# scoped by the block-group key this table format uses.
POS_COLUMNS = ["_src_file", "_part_id", "_block_id", "_pos"]


def decode_table(blocks: DataFrame, columns: list[str] | None = None,
                 file_keyed: bool = True,
                 missing_columns: str = "error",
                 with_positions: bool = False,
                 headers: dict[str, dict] | None = None,
                 refs: dict[str, set] | None = None,
                 pre_grouped: bool = False) -> DataFrame:
    """Decode an encoded-blocks DataFrame back to the raw table.

    ``missing_columns``: ``"error"`` (default) refuses groups that lack a
    requested column; ``"null"`` null-fills them instead — Iceberg
    add-column read semantics for resumable out_dirs whose later batches
    gained columns (the column must exist in at least one batch, since the
    output type comes from its header).

    BREAKING DEFAULT (round 3): ``file_keyed=True`` scopes block-group
    identity by source file so outputs of independent encode jobs (each
    restarting part_id at 0) never merge. Block tables that were
    repartitioned or rewritten AFTER encoding — whose groups span files and
    decoded fine under the old fileless key — now fail with a
    missing-columns error that names the two fixes: pass
    ``file_keyed=False`` (safe only when ALL blocks come from one encode
    job) or re-key with ``codec.compact.compact_blocks``, which restores
    whole groups per file and decodes under either mode.

    DETERMINISM CONTRACT: ``blocks`` must evaluate to the same rows on
    every action (file-backed, cached, or checkpointed). Decode and its
    pushdown variants read the plan MORE THAN ONCE (the metadata read of
    :class:`codec.blockindex.BlockIndex`, then the payload decode job); an
    uncached in-memory plan downstream of a sampling shuffle
    (``repartitionByRange``'s boundaries re-draw per action) can shift
    rows between groups across those reads and corrupt results. This is
    Spark's own repeatability contract, restated here because the failure
    is silent. For a bare scan of local parquet files the metadata read is
    a driver read of the same files, not a Spark job; files rewritten
    between the two reads break the contract the same way.

    ``headers``/``refs`` (optional): those of a
    :class:`codec.blockindex.BlockIndex` the caller already loaded for THIS
    blocks table (or a superset) skip this function's own metadata read, as
    the pushdown operators do; an empty-after-pruning blocks frame then
    decodes to an empty typed frame instead of raising.

    ``pre_grouped=True`` (r06) skips the co-locating repartition + sort:
    valid when every block group's rows are already ADJACENT within one
    partition — true by construction for ``encode_table`` output and any
    narrow transformation of it (filters, pair filters, broadcast
    semi-joins, ``.cache()``), i.e. the in-memory encode→pushdown→decode
    pipeline shape. It removes the one Exchange that carries payload
    bytes (the decode becomes a pure map stage). NOT valid for blocks
    read back from disk (file splitting can cut a group in half) or any
    plan with a shuffle between encode and decode. Safety: a violated
    adjacency assumption splits a group into fragments that are each
    missing columns, so the strict group assembly REFUSES loudly
    (``missing_columns='error'``, the default) instead of mis-decoding;
    combining ``pre_grouped=True`` with ``missing_columns='null'`` puts
    that contract on the caller."""
    fill = _fill_missing(missing_columns)
    if headers is None or refs is None:
        idx = BlockIndex.load(blocks, stats=False)
        headers, refs = idx.headers, idx.refs
    if columns is None:
        # the index already enumerated the columns — no extra job
        columns = sorted(headers)
    if with_positions:
        clash = [c for c in columns if c in POS_COLUMNS]
        if clash:
            raise ValueError(
                f"with_positions reserves column names {POS_COLUMNS}; the "
                f"table already has {clash}"
            )
    out_schema = _schema_from_headers(headers, columns)
    pos_schema = pa.schema(
        list(out_schema)
        + [pa.field("_src_file", pa.string()),
           pa.field("_part_id", pa.int64()),
           pa.field("_block_id", pa.int64()),
           pa.field("_pos", pa.int64())]
    ) if with_positions else out_schema
    ddl = _spark_ddl_of(pos_schema)
    # xref columns need their reference column's blocks in the group even
    # when the caller didn't request it
    fetch_cols = _fetch_closure(headers, refs, columns)

    # Groups flush on key transition, and completeness is judged PER GROUP
    # against the requested columns — so batches encoded by different jobs
    # with different column sets or codecs each decode by their own
    # dependencies instead of a global column count.
    part = _grouped(blocks, fetch_cols, file_keyed, pre_grouped)

    def dec(batches):
        if not with_positions:
            for grp in _iter_groups(batches, columns, strict=not fill):
                yield _decode_group(grp, columns, out_schema, fill_missing=fill)
            return
        import numpy as np

        for key, grp in _iter_groups(batches, columns, strict=not fill,
                                     with_key=True):
            rb = _decode_group(grp, columns, out_schema, fill_missing=fill)
            src, pid, bid = key
            n = rb.num_rows
            # run-length-style constant columns: one distinct value each —
            # arrow repeats cheaply, and Spark sees plain columns
            coord = [
                pa.array([src] * n, pa.string()),
                pa.array(np.full(n, pid, dtype=np.int64)),
                pa.array(np.full(n, bid, dtype=np.int64)),
                pa.array(np.arange(n, dtype=np.int64)),
            ]
            yield pa.record_batch(list(rb.columns) + coord, schema=pos_schema)

    return part.mapInArrow(dec, schema=ddl)


def verify_roundtrip(source: DataFrame, decoded: DataFrame, key: str = "url",
                     columns: list[str] | None = None) -> dict:
    """Join on ``key`` and count per-column mismatches (bit-identity gate).

    Uses md5 over a canonical binary rendering so arbitrarily wide values
    compare cheaply and NULL is distinguished from empty.
    """
    cols = columns or [c for c in source.columns if c in decoded.columns]

    def canon(df: DataFrame) -> DataFrame:
        exprs = [F.col(key).alias("_k")]
        for c in cols:
            if c == key:
                continue
            dt = dict(df.dtypes)[c]
            col = F.col(c)
            if dt == "binary":
                b = col
            elif dt.startswith("timestamp"):
                b = F.encode(F.date_format(col, "yyyy-MM-dd HH:mm:ss.SSSSSS"), "UTF-8")
            else:
                b = F.encode(col.cast("string"), "UTF-8")
            exprs.append(
                F.when(col.isNull(), F.lit("<NULL>")).otherwise(F.md5(b)).alias(f"h_{c}")
            )
        return df.select(*exprs)

    s = canon(source)
    d = canon(decoded)
    j = s.alias("s").join(d.alias("d"), "_k", "full_outer")
    agg = [F.count("*").alias("joined_rows")]
    for c in cols:
        if c == key:
            continue
        agg.append(
            F.sum(
                F.when(
                    ~F.col(f"s.h_{c}").eqNullSafe(F.col(f"d.h_{c}")), 1
                ).otherwise(0)
            ).alias(f"mismatch_{c}")
        )
    row = j.agg(*agg).collect()[0].asDict()
    row["total_mismatches"] = sum(v for k, v in row.items() if k.startswith("mismatch_"))
    return row


class _BufferedWriter:
    """Parquet sink that coalesces decoded group batches (8-64k rows) into
    ~128k-row row groups with 1 MB pages: one row group per encode block
    costs the C++ writer ~20% in per-group overhead (stats flush, page
    finalize) and yields worse files for downstream scans. Bounded buffer,
    not whole-file — the live set stays ~100 MB at web-page row widths.
    No dictionary pages: decoded web pages are mostly unique (dict pages
    overflow and fall back anyway), and skipping the attempt is ~20% off
    the write wall."""

    ROW_GROUP_ROWS = 131072

    def __init__(self, tmp, schema, compression):
        self._args = (tmp, schema, compression)
        self.writer = None
        self.n_rows = 0
        self._pending: list = []
        self._pending_rows = 0

    def write(self, rb) -> None:
        self._pending.append(rb)
        self._pending_rows += rb.num_rows
        if self._pending_rows >= self.ROW_GROUP_ROWS:
            self.flush()

    def flush(self) -> None:
        if not self._pending:
            return
        if self.writer is None:
            import pyarrow.parquet as _pq

            tmp, schema, compression = self._args
            self.writer = _pq.ParquetWriter(
                tmp, schema, compression=compression,
                use_dictionary=False, data_page_size=1 << 20)
        self.writer.write_table(pa.Table.from_batches(self._pending),
                                row_group_size=self.ROW_GROUP_ROWS)
        self.n_rows += self._pending_rows
        self._pending, self._pending_rows = [], 0

    def close(self) -> bool:
        """Flush + close; True if anything was written."""
        self.flush()
        if self.writer is None:
            return False
        self.writer.close()
        return True


def _per_file(blocks: DataFrame, files: list[str] | None,
              file_keyed: bool) -> bool:
    """Whether the sink decode reads ``files`` one task each instead of
    shuffling. ``files`` are those of a bare local parquet scan
    (:attr:`BlockIndex.files`); under the file-keyed group identity every
    group of such a scan lies inside one file. A file larger than
    ``spark.sql.files.maxPartitionBytes`` would make one task hold more
    than Spark's own reader gives it, so it takes the shuffle too."""
    if files is None or not file_keyed:
        return False
    split = (blocks.sparkSession._jsparkSession.sessionState().conf()
             .filesMaxPartitionBytes())
    return all(os.path.getsize(_local_path(f)) <= split for f in files)


def _file_rows(uri: str, fetch_cols: list[str]):
    """The :func:`_grouped` rows of one block file, read with pyarrow: the
    ``fetch_cols`` blocks sorted by (part_id, block_id), after the file's
    URI as ``__src``."""
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    # use_threads=False: a Spark task owns ONE core (see encode)
    t = pq.read_table(_local_path(uri), use_threads=False,
                      columns=["part_id", "block_id", "column", "header",
                               "payload"])
    t = (t.filter(pc.is_in(t.column("column"), pa.array(fetch_cols)))
         .sort_by([("part_id", "ascending"), ("block_id", "ascending")]))
    yield from t.add_column(0, "__src", pa.array([uri] * t.num_rows,
                                                 pa.string())).to_batches()


def decode_to_parquet(blocks: DataFrame, out_dir: str,
                      columns: list[str] | None = None,
                      compression: str = "snappy",
                      file_keyed: bool = True,
                      missing_columns: str = "error") -> DataFrame:
    """Sink-side decode: tasks write decoded rows straight to parquet with
    the pyarrow C++ writer, so the decoded raw bytes never cross the
    Python->JVM boundary (as ``encode_parquet_dir``'s never do — measured
    ~10x faster than decode_table + a JVM sink for binary-heavy columns).

    Returns a small manifest DataFrame (file, n_rows); the decoded table is
    ``spark.read.parquet(out_dir)``.

    The source of each task follows the plan. A bare scan of local block
    files (``spark.read.parquet`` of a block dir, ``read_blocks_at``)
    under ``file_keyed=True`` whose files each fit one read split decodes
    one task per file, one stage with no Exchange: this engine's encode
    writes whole groups per file. Every other frame (in-memory
    ``encode_table`` output, filtered, cached or joined frames, remote
    files, ``file_keyed=False``, larger files) is co-located by a hash
    repartition and sorted, as in ``decode_table``. Both feed the same
    group assembly, so duplicate and incomplete groups are refused alike.

    ``file_keyed`` semantics (and the round-3 breaking default for tables
    rewritten after encoding) are documented on ``decode_table``.

    ``missing_columns="null"``: schema-evolution read — groups lacking a
    requested column null-fill it (see ``decode_table``).
    """
    fill = _fill_missing(missing_columns)
    idx = BlockIndex.load(blocks, stats=False)
    headers, refs = idx.headers, idx.refs
    if columns is None:
        columns = sorted(headers)
    out_schema = _schema_from_headers(headers, columns)
    fetch_cols = _fetch_closure(headers, refs, columns)
    os.makedirs(out_dir, exist_ok=True)

    def dec(batches):
        out = TaskFile(out_dir, "part", ".parquet")
        w = _BufferedWriter(out.tmp, out_schema, compression)
        for grp in _iter_groups(batches, columns, strict=not fill):
            w.write(_decode_group(grp, columns, out_schema, fill_missing=fill))
        if w.close():
            yield pa.record_batch(
                [pa.array([out.commit()]), pa.array([w.n_rows], pa.int64())],
                names=["file", "n_rows"],
            )

    manifest = "file string, n_rows bigint"
    if _per_file(blocks, idx.files, file_keyed):
        return map_slices(blocks.sparkSession, idx.files,
                          lambda f: dec(_file_rows(f, fetch_cols)), manifest)
    return _grouped(blocks, fetch_cols, file_keyed).mapInArrow(dec, manifest)


def read_blocks(spark, *paths: str, **options) -> DataFrame:
    """The block files under ``paths``, read with the known block schema:
    inferring it would cost a Spark job. A file without ``bloom`` reads it
    as NULL. No files, or a local file without the other block columns,
    is refused, as reading under an inferred schema would have failed."""
    import pyarrow.parquet as pq
    from pyspark.sql.pandas.types import from_arrow_schema

    from nail_parquet_spark.codec.encode import BLOCKS_SCHEMA

    blocks = (spark.read.schema(from_arrow_schema(BLOCKS_SCHEMA))
              .options(**options).parquet(*paths))
    files = blocks.inputFiles()
    if not files:
        raise ValueError(f"no block files under {', '.join(paths)}")
    if files[0].startswith("file:"):
        have = pq.read_schema(_local_path(files[0])).names
        missing = [c for c in BLOCKS_SCHEMA.names if c not in have + ["bloom"]]
        if missing:
            raise ValueError(f"{files[0]} is not a block file: no {missing}")
    return blocks


def decode_parquet_dir(spark, blocks_dir: str, out_dir: str,
                       columns: list[str] | None = None,
                       compression: str = "snappy",
                       missing_columns: str = "error"):
    """:func:`decode_to_parquet` of every block file under ``blocks_dir``,
    nested ones included (the batch dirs of a resumable out_dir), so
    columns and xref references only a nested file carries are seen.
    Block files written by this engine's encode decode one task per file.
    """
    blocks = read_blocks(spark, blocks_dir, recursiveFileLookup=True,
                         pathGlobFilter="*.parquet")
    return decode_to_parquet(blocks, out_dir, columns, compression,
                             missing_columns=missing_columns)


# ---------------------------------------------------------------------------
# predicate pushdown: block pruning decided on the driver by the block index
# ---------------------------------------------------------------------------

def _keep_pairs(blocks: DataFrame, pairs) -> DataFrame:
    """Restrict a blocks table to a (part_id, block_id) keep-set as LITERAL
    ``isin`` filters on each coordinate, which Catalyst pushes into the
    parquet scan. The parts x bids product is a superset of the pair set —
    safe wherever a residual step keeps answers exact (see
    :func:`_filter_block_pairs` for the exact form)."""
    parts = sorted({p for p, _ in pairs})
    bids = sorted({b for _, b in pairs})
    return blocks.filter(F.col("part_id").isin(parts) & F.col("block_id").isin(bids))


def _prune(blocks: DataFrame, idx: BlockIndex, clauses) -> DataFrame:
    """``blocks`` restricted to the groups the index keeps for the CNF
    ``clauses`` (:meth:`BlockIndex.keep`); unpruned when it keeps all."""
    keep = idx.keep(clauses)
    return blocks if keep is None else _keep_pairs(blocks, keep)


def prune_blocks(blocks: DataFrame, column: str, op: str, value,
                 max_groups: int = 100_000) -> DataFrame:
    """Drop whole (part_id, block_id) groups whose ``column`` zone stats
    (encode-side ``min_val``/``max_val``) prove no row can satisfy
    ``column op value`` — the engine's parquet-row-group-pruning analogue.

    The keep-set is decided on the driver over one metadata read
    (:class:`codec.blockindex.BlockIndex`; over ``max_groups`` groups
    pruning is skipped, never wrong) and re-applied as LITERAL ``isin``
    filters on (part_id, block_id), which Catalyst pushes into the parquet
    scan: pruned groups' payload bytes are never read, not merely
    decoded-and-dropped. The pair-of-INs is a superset of the exact pair
    set — safe, and the residual row filter (decode_table_where) keeps
    semantics exact.

    The prune rule and its safety rules (literal coercion, render cap,
    unparsed and missing stats, statless kinds) are
    :func:`codec.zonemap.block_class`'s.
    """
    if op not in zonemap.PRUNE_OPS:
        raise ValueError(f"op must be one of {zonemap.PRUNE_OPS}, got {op!r}")
    return _prune(blocks, BlockIndex.load(blocks, max_groups),
                  [[(column, op, value)]])


def prune_blocks_bloom(blocks: DataFrame, column: str, value,
                       max_groups: int = 100_000,
                       op: str = "=") -> DataFrame:
    """Equality (and ``in``, ``prefix``, ``contains``) pushdown via the
    opt-in per-block bloom bitmaps (codec/bloom.py): drop (part_id,
    block_id) groups whose ``column`` bloom proves the predicate matches no
    row. The complement of zone maps — min/max rarely excludes an equality
    probe on a high-cardinality column, a 10-bits/key bloom excludes ~99%
    of non-matching blocks. Prefix pruning needs bitmaps built with
    ``"col:<P>"`` specs and a query prefix of at least P bytes, substring
    pruning ``"col:g<N>"`` specs; blocks without such keys are kept (never
    wrong, only less pruned).

    The membership test runs inside the block index's one metadata read
    (:func:`codec.bloom.bloom_probe`), so bitmaps never reach the driver;
    the keep-set, which zone maps narrow too, is applied like
    ``prune_blocks``'. A NULL bloom (no filter on that block, pre-bloom
    dir, unsupported type) always keeps the group, and a ``prefix`` on a
    non-string column prunes nothing."""
    if "bloom" not in blocks.columns:
        return blocks
    idx = BlockIndex.load(blocks, max_groups, probes=[(column, op, value)])
    if op == "prefix" and column in idx.headers \
            and idx.headers[column]["kind"] != "str":
        return blocks  # no prefix keys on a non-string column
    return _prune(blocks, idx, [[(column, op, value)]])


def decode_table_where(blocks: DataFrame, column: str, op: str, value,
                       columns: list[str] | None = None,
                       file_keyed: bool = True,
                       max_groups: int = 100_000,
                       pre_grouped: bool = False) -> DataFrame:
    """decode_table with predicate pushdown: zone-map block pruning
    (prune_blocks) + the exact residual row filter after decode. Semantics
    equal decode_table(blocks, columns).filter(column op value); cost skips
    reading and decoding every group the stats rule out."""
    return decode_table_where_all(
        blocks, [(column, op, value)], columns=columns, file_keyed=file_keyed,
        max_groups=max_groups, pre_grouped=pre_grouped)


def _pred_expr(col_: str, op_: str, val_) -> F.Column:
    """The exact Catalyst expression for one (column, op, value) predicate —
    the residual filter that keeps pushdown semantics identical to
    decode-then-filter."""
    c = F.col(col_)
    if op_ == "prefix":
        return c.startswith(val_)
    if op_ == "contains":
        return c.contains(val_)
    if op_ == "in":
        vals_ = list(val_)
        return c.isin(vals_) if vals_ else F.lit(False)
    if op_ == "isnull":
        return c.isNull()
    if op_ == "notnull":
        return c.isNotNull()
    return {
        "=": c == val_, "==": c == val_, "!=": c != val_,
        ">": c > val_, ">=": c >= val_,
        "<": c < val_, "<=": c <= val_,
    }[op_]


def _cnf_expr(clauses) -> F.Column:
    """The residual filter of CNF ``clauses`` (ANDed OR-lists)."""
    residual = None
    for clause in clauses:
        one = None
        for col_, op_, val_ in clause:
            e = _pred_expr(col_, op_, val_)
            one = e if one is None else (one | e)
        residual = one if residual is None else (residual & one)
    return residual


def _as_clause(item) -> list[tuple]:
    """Normalize a predicate item: a bare (col, op, val) triple is a
    1-disjunct clause; a list/tuple of triples is an OR-clause."""
    if (isinstance(item, (list, tuple)) and item
            and isinstance(item[0], (list, tuple))):
        return [tuple(p) for p in item]
    return [tuple(item)]


def _where_index(blocks: DataFrame, predicates,
                 max_groups: int) -> tuple[list, BlockIndex]:
    """(CNF clauses, block index with their bloom verdicts) for a
    ``predicates`` list in the ``decode_table_where_all`` grammar."""
    clauses = [_as_clause(p) for p in predicates]
    if not clauses:
        raise ValueError("predicates must be non-empty")
    probes = [p for clause in clauses for p in clause]
    return clauses, BlockIndex.load(blocks, max_groups, probes=probes)


def decode_table_where_all(blocks: DataFrame, predicates,
                           columns: list[str] | None = None,
                           file_keyed: bool = True,
                           max_groups: int = 100_000,
                           pre_grouped: bool = False) -> DataFrame:
    """CNF pushdown decode: ``predicates`` is a list of clauses ANDed
    together, where each clause is either a bare (column, op, value)
    triple or a LIST of triples ORed together. One metadata read
    (:class:`codec.blockindex.BlockIndex`) decides on the driver which
    block groups zone maps and blooms admit — a group survives a clause
    when some disjunct admits it — then ONE decode runs over the surviving
    groups and the exact CNF expression filters residually. Semantics
    equal decode_table(...).filter((p11 OR p12 ...) AND (p21 ...) AND ...)."""
    clauses, idx = _where_index(blocks, predicates, max_groups)
    pruned = _prune(blocks, idx, clauses)
    out_cols, use_cols = _columns(idx.headers, columns,
                                  *(p[0] for clause in clauses for p in clause))
    # headers pass through: an all-pruned frame decodes to an empty typed
    # frame, with no emptiness probe job
    dec = decode_table(pruned, columns=use_cols, file_keyed=file_keyed,
                       headers=idx.headers, refs=idx.refs,
                       pre_grouped=pre_grouped)
    return dec.filter(_cnf_expr(clauses)).select(*out_cols)


def _prune_topk(blocks: DataFrame, idx: BlockIndex, column: str, k: int,
                descending: bool) -> DataFrame:
    if k < 1:
        raise ValueError("prune_blocks_topk: k must be >= 1")
    if column not in idx.headers:
        raise ValueError(f"column {column!r} not in the blocks table")
    kind = zonemap.stat_kind(idx.headers, column,
                             need="top-k must decode, then sort")
    if idx.blocks is None:
        return blocks
    rows = [(b.key, b.n_rows - b.null_count, b.min_val, b.max_val)
            for b in idx.blocks.get(column, ())
            if b.n_rows > b.null_count]  # an all-null group never ranks
    keep = zonemap.topk_keep(kind, rows, k, descending)
    return blocks if keep is None else _keep_pairs(
        blocks, {(p, b) for _, p, b in keep})


def prune_blocks_topk(blocks: DataFrame, column: str, k: int,
                      descending: bool = True,
                      max_groups: int = 100_000) -> DataFrame:
    """Zone-map pruning for ``ORDER BY column [DESC|ASC] LIMIT k``: keep
    only block groups that can contain a top-k row.

    The per-group (min, max, n_rows, null_count) of ``column`` come from
    one metadata read (:class:`codec.blockindex.BlockIndex`, reads NO
    data), then the greedy bound of :func:`codec.zonemap.topk_keep`, whose
    docstring holds the algorithm and its safety rules. All-null groups
    are dropped (NULL never ranks — see decode_topk). Over ``max_groups``,
    or when groups with usable stats hold fewer than k rankable rows,
    pruning is skipped.

    Every column kind with zone stats is supported (integer, boolean,
    float, timestamp, date, string); binary and list columns raise.
    """
    return _prune_topk(blocks, BlockIndex.load(blocks, max_groups), column,
                       k, descending)


def decode_topk(blocks: DataFrame, column: str, k: int,
                tiebreak: str | None = None, descending: bool = True,
                columns: list[str] | None = None,
                file_keyed: bool = True,
                max_groups: int = 100_000,
                pre_grouped: bool = False) -> DataFrame:
    """``ORDER BY column [DESC|ASC][, tiebreak ASC] LIMIT k`` served with
    zone-map block pruning (:func:`prune_blocks_topk`): only groups that
    can contain a top-k row are read and decoded, then the exact global
    sort-limit runs on the decoded remainder (Spark plans it as
    TakeOrderedAndProject — per-partition heaps, no full sort).

    Pinned semantics: rows with NULL in ``column`` never rank (excluded —
    engines disagree on default null ordering, the contract removes the
    divergence); pass ``tiebreak`` (sorted ascending) whenever boundary
    determinism matters. Semantics equal
    ``decode_table(blocks, columns).filter(col.isNotNull())
    .orderBy(col [desc], tiebreak).limit(k)``.
    """
    idx = BlockIndex.load(blocks, max_groups)
    out_cols, use_cols = _columns(idx.headers, columns, column, tiebreak)
    pruned = _prune_topk(blocks, idx, column, k, descending)
    # headers pass through, so an all-pruned frame decodes to an empty typed
    # frame directly — no emptiness probe job
    dec = decode_table(pruned, columns=use_cols, file_keyed=file_keyed,
                       headers=idx.headers, refs=idx.refs,
                       pre_grouped=pre_grouped)
    order = [F.col(column).desc() if descending else F.col(column).asc()]
    if tiebreak is not None:
        order.append(F.col(tiebreak).asc())
    return (dec.filter(F.col(column).isNotNull())
            .orderBy(*order).limit(int(k)).select(*out_cols))


def _prune_topk_by(blocks: DataFrame, idx: BlockIndex, group_col: str,
                   column: str, k: int, descending: bool) -> DataFrame:
    if k < 1:
        raise ValueError("prune_blocks_topk_by: k must be >= 1")
    if group_col == column:
        raise ValueError("group_col and column must differ")
    for c in (group_col, column):
        if c not in idx.headers:
            raise ValueError(f"column {c!r} not in the blocks table")
    need = "grouped top-k must decode, then rank"
    vkind = zonemap.stat_kind(idx.headers, column, need=need)
    gkind = zonemap.stat_kind(idx.headers, group_col, need=need)
    if idx.blocks is None:
        return blocks

    # physical-block identity is (source file, part_id, block_id): encode
    # jobs restart part ids at 0, so the bare pair COLLIDES across the
    # batch=* dirs a snapshot table unions — keying stats by the pair
    # alone would overwrite one batch's block with another's and could
    # prune rows that hold a group's true top-k
    gstats: dict[tuple, object] = {}
    vstats: dict[tuple, object] = {}
    for side, c in ((gstats, group_col), (vstats, column)):
        for b in idx.blocks.get(c, ()):
            if b.key in side:
                # physical identity collapsed (empty source over a union of
                # in-memory encode jobs): stats would shadow each other, so
                # prune NOTHING — the decode layer's duplicate-group refusal
                # then decides loudly whether the table is even readable
                return blocks
            side[b.key] = b

    keep: set[tuple] = set()
    per_group: dict[object, list] = {}  # group value -> topk_keep rows
    for key, gr in gstats.items():
        vr = vstats.get(key)
        if vr is None:
            keep.add(key)  # value stats missing: keep unconditionally
            continue
        n = gr.n_rows
        if gr.null_count >= n or vr.null_count >= n:
            continue  # certainly no rankable row in this block
        point, gval = zonemap.point_value(gkind, gr.min_val, gr.max_val)
        if not point:
            keep.add(key)  # spanning or unknown group zone: any group
            continue
        nn = max(0, n - gr.null_count - vr.null_count)
        per_group.setdefault(gval, []).append(
            (key, nn, vr.min_val, vr.max_val))
    for rows in per_group.values():
        kept = zonemap.topk_keep(vkind, rows, k, descending)
        keep.update(kept if kept is not None else (r[0] for r in rows))

    # project physical keys back to (part, block) pairs: the pair filter
    # keeps every physical block sharing a kept pair — a superset, sound
    # (an empty keep-set short-circuits to filter(False) inside the helper)
    return _filter_block_pairs(blocks, {(p, b) for _, p, b in keep})


def prune_blocks_topk_by(blocks: DataFrame, group_col: str, column: str,
                         k: int, descending: bool = True,
                         max_groups: int = 100_000) -> DataFrame:
    """Zone-map pruning for a per-group top-k (``row_number() OVER
    (PARTITION BY group_col ORDER BY column [DESC|ASC]) <= k``): keep only
    block groups that can contain a top-k row of SOME group.

    The reference has no grouped pushdown at all (`nail-parquet` decodes
    then sorts, src/commands/data.rs); this is the lakehouse-native shape:
    when the ingest layout clusters by the group column (sort / Z-order by
    lang or domain — exactly what ``optimize --sort-by`` produces), most
    blocks are single-group "point blocks" and the single-column greedy
    bound of :func:`prune_blocks_topk` applies independently per group.

    Metadata algorithm (driver-side over the block index, reads NO
    payloads):
    - a block whose group zone is a single value
      (:func:`codec.zonemap.point_value`, a "point block") joins that
      group's greedy bound (:func:`codec.zonemap.topk_keep`, same value-side
      rules as :func:`prune_blocks_topk`), computed independently per group;
    - a block whose group zone spans values (or is unparsed/truncated)
      is ALWAYS kept — its rows may belong to any group, including groups
      living only in spanning blocks, so no per-group bound can drop it;
    - guaranteed rankable rows per block = n_rows - group nulls - value
      nulls (conservative under joint nulls: understating only prunes
      less); a block certainly empty of rankable rows (all-null group or
      all-null value) is dropped — NULLs never rank in either column.

    Both columns need zone stats (binary and list columns raise). Over
    ``max_groups`` block groups, pruning is skipped.
    """
    return _prune_topk_by(blocks, BlockIndex.load(blocks, max_groups),
                          group_col, column, k, descending)


def decode_topk_by(blocks: DataFrame, group_col: str, column: str, k: int,
                   tiebreak: str | None = None, descending: bool = True,
                   columns: list[str] | None = None,
                   file_keyed: bool = True,
                   max_groups: int = 100_000,
                   pre_grouped: bool = False) -> DataFrame:
    """Per-group ``ORDER BY column [DESC|ASC][, tiebreak ASC] LIMIT k``
    (top-k rows for EVERY distinct group_col value) served with grouped
    zone-map block pruning (:func:`prune_blocks_topk_by`), then the exact
    per-group window on the decoded remainder — a keyed window
    (PARTITION BY group_col), never a global one.

    Pinned semantics: rows with NULL in ``group_col`` OR ``column`` never
    rank (engines disagree on null partitions/ordering; the contract
    removes the divergence). Equal to::

        decode_table(blocks, columns)
          .filter(g.isNotNull() & v.isNotNull())
          .withColumn(rn, row_number().over(
              Window.partitionBy(g).orderBy(v [desc], tiebreak)))
          .filter(rn <= k)

    Pass ``tiebreak`` whenever boundary determinism matters.
    """
    from pyspark.sql import Window

    idx = BlockIndex.load(blocks, max_groups)
    out_cols, use_cols = _columns(idx.headers, columns, group_col, column,
                                  tiebreak)
    pruned = _prune_topk_by(blocks, idx, group_col, column, k, descending)
    # headers pass through: no emptiness probe job (see decode_topk)
    dec = decode_table(pruned, columns=use_cols, file_keyed=file_keyed,
                       headers=idx.headers, refs=idx.refs,
                       pre_grouped=pre_grouped)
    order = [F.col(column).desc() if descending else F.col(column).asc()]
    if tiebreak is not None:
        order.append(F.col(tiebreak).asc())
    w = Window.partitionBy(group_col).orderBy(*order)
    return (dec.filter(F.col(group_col).isNotNull()
                       & F.col(column).isNotNull())
            .withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") <= int(k))
            .select(*out_cols))


def _filter_block_pairs(blocks: DataFrame, pairs: set[tuple]) -> DataFrame:
    """Restrict a blocks table to an exact (part_id, block_id) pair set —
    NOT the parts x bids superset filter: callers here keep DIFFERENT
    blocks in different parts, which the superset would undo. Small sets
    apply as a literal isin on a concat key (pushed into the scan); larger
    ones as a broadcast semi-join."""
    if not pairs:
        return blocks.filter(F.lit(False))
    if len(pairs) <= 4096:
        sep_key = F.concat_ws("#", F.col("part_id").cast("string"),
                              F.col("block_id").cast("string"))
        return blocks.filter(sep_key.isin([f"{p}#{b}" for p, b in pairs]))
    keys_df = blocks.sparkSession.createDataFrame(
        sorted(pairs), "part_id long, block_id long")
    return blocks.join(F.broadcast(keys_df), ["part_id", "block_id"],
                       "left_semi")


def decode_semijoin(blocks: DataFrame, keys: DataFrame, key_col: str,
                    columns: list[str] | None = None,
                    file_keyed: bool = True,
                    max_groups: int = 100_000,
                    inline_keys_max: int = 64,
                    deletes: DataFrame | None = None,
                    pre_grouped: bool = False) -> DataFrame:
    """Late-materialization lookup join: the rows of the encoded table whose
    ``key_col`` value appears in the ``keys`` DataFrame — SQL
    ``WHERE key_col IN (SELECT key_col FROM keys)``. NULL keys never match
    (IN semantics); semi-join cardinality (each table row at most once,
    duplicate probe keys don't duplicate output).

    The reference can only decode-everything-then-filter
    (/root/reference/src/commands/data.rs); this is the columnar-native
    plan, staged so payload bytes it can rule out are NEVER read:

    1. a small probe set (<= ``inline_keys_max`` distinct values, found via
       a limit probe) prunes blocks first through zone maps + equality
       blooms (the ``'in'`` op of prune_blocks/prune_blocks_bloom);
    2. ONLY ``key_col`` decodes (with row coordinates) and semi-joins the
       probe to find matching coordinates — for a web corpus this touches
       the dict/FSST url blocks, never the text/html payloads;
    3. block groups holding at least one match decode fully
       (:func:`_filter_block_pairs` — exact pair filter), and a coordinate
       semi-join on ``POS_COLUMNS`` keeps exactly the matching rows.

    ``keys`` must either contain ``key_col`` or be a single-column frame
    (renamed). Above ``max_groups`` matching groups, stage 3's block filter
    is skipped (decode-all + coordinate semi-join — correct, unpruned).
    To enrich probe rows instead of filtering the table, join the returned
    frame back to ``keys`` on ``key_col``.

    ``deletes`` (optional): committed row coordinates in the ``POS_COLUMNS``
    shape (position deletes, or equality deletes resolved via
    ``pipeline.deletes.equality_positions``) — matching coordinates are
    anti-joined out BEFORE full materialization, so a snapshot table's
    merge-on-read view composes without resurfacing deleted rows.
    """
    if key_col in keys.columns:
        probe = keys.select(key_col)
    elif len(keys.columns) == 1:
        probe = keys.select(F.col(keys.columns[0]).alias(key_col))
    else:
        raise ValueError(
            f"keys frame (columns {keys.columns}) has no {key_col!r} column "
            "and is not single-column")
    probe = probe.filter(F.col(key_col).isNotNull()).distinct()

    # stage 1: an inline-able probe set prunes blocks from metadata alone,
    # read in the same single index load as the headers
    sample = [r[0] for r in probe.limit(inline_keys_max + 1).collect()]
    inline = [[(key_col, "in", sample)]] if len(sample) <= inline_keys_max else []
    idx = BlockIndex.load(blocks, max_groups,
                          probes=[p for clause in inline for p in clause])
    headers, refs = idx.headers, idx.refs
    if key_col not in headers:
        raise ValueError(f"column {key_col!r} not in the blocks table")

    out_cols, use_cols = _columns(headers, columns, key_col)
    if not sample:
        return _empty(blocks, headers, out_cols)
    # an all-pruned frame flows to empty coords -> an empty frame in the tail
    pruned = _prune(blocks, idx, inline) if inline else blocks

    # stage 2: key-column-only decode -> matching row coordinates
    keydec = decode_table(pruned, columns=[key_col], with_positions=True,
                          file_keyed=file_keyed, headers=headers, refs=refs,
                          pre_grouped=pre_grouped)
    coords = keydec.join(probe, key_col, "left_semi").select(*POS_COLUMNS)
    if deletes is not None:
        coords = coords.join(deletes.select(*POS_COLUMNS),
                             on=POS_COLUMNS, how="left_anti")

    # stage 3: decode only block groups holding a match, keep exact rows
    return _materialize_coords(pruned, coords, out_cols, use_cols,
                               file_keyed, max_groups,
                               headers=headers, refs=refs,
                               pre_grouped=pre_grouped)


def _materialize_coords(blocks: DataFrame, coords: DataFrame,
                        out_cols: list[str], use_cols: list[str],
                        file_keyed, max_groups: int,
                        headers: dict[str, dict], refs: dict[str, set],
                        pre_grouped: bool = False) -> DataFrame:
    """Late-materialization tail shared by the coordinate-driven decodes:
    decode full payloads ONLY for block groups holding at least one
    coordinate (exact pair filter, driver pull capped at ``max_groups`` —
    over the cap the filter is skipped, correct but unpruned), then keep
    exactly the addressed rows by coordinate semi-join."""
    got = (coords.select("_part_id", "_block_id").distinct()
           .limit(max_groups + 1).collect())
    hit = blocks
    if len(got) <= max_groups:
        if not got:
            return _empty(blocks, headers, out_cols)
        hit = _filter_block_pairs(
            blocks, {(r["_part_id"], r["_block_id"]) for r in got})
    full = decode_table(hit, columns=use_cols, with_positions=True,
                        file_keyed=file_keyed, headers=headers, refs=refs,
                        pre_grouped=pre_grouped)
    return (full.join(coords, on=POS_COLUMNS, how="left_semi")
            .select(*out_cols))


def decode_sample(blocks: DataFrame, key_col: str, fraction: float,
                  seed: int = 0,
                  columns: list[str] | None = None,
                  file_keyed: bool = True,
                  max_groups: int = 100_000,
                  deletes: DataFrame | None = None,
                  pre_grouped: bool = False) -> DataFrame:
    """Key-stable deterministic sample of an encoded table with late
    materialization: ONLY ``key_col`` decodes first, rows are picked by
    the repo's pinned portable 60-bit md5 lane
    (``int(md5(key_str || ':' || seed)[:15 hex]) / 2^60 < fraction`` —
    the same lane split_by_group/weighted_sample use, reproducible in any
    engine), and full payloads decode only for block groups holding a
    picked row. For a web corpus that means sampling 1% of 100 TB reads
    the key blocks plus ~1% of the payload blocks, never the rest.

    Key-stable: the same key always draws the same uniform — re-encodes,
    re-layouts, and re-runs pick the same rows, and duplicate-key rows
    move as one unit (the dedup-friendly shape). NULL keys take the
    pinned ``'\\x00'`` sentinel (all-or-none together, matching
    split_by_group). ``seed`` re-deals. ``deletes`` composes the
    merge-on-read view exactly as :func:`decode_semijoin`.

    The reference samples only via full scans (src/commands/sample.rs);
    a block-granular shortcut would bias toward co-located rows — this
    keeps row-exact semantics AND block-level IO.
    """
    if not (0.0 <= fraction <= 1.0):
        raise ValueError("decode_sample: fraction must be in [0, 1]")
    idx = BlockIndex.load(blocks, stats=False)
    headers, refs = idx.headers, idx.refs
    if key_col not in headers:
        raise ValueError(f"column {key_col!r} not in the blocks table")
    out_cols, use_cols = _columns(headers, columns, key_col)
    if fraction == 0.0:
        return _empty(blocks, headers, out_cols)
    keydec = decode_table(blocks, columns=[key_col], with_positions=True,
                          file_keyed=file_keyed, headers=headers, refs=refs,
                          pre_grouped=pre_grouped)
    ks = F.coalesce(F.col(key_col).cast("string"), F.lit("\x00"))
    u = (
        F.conv(
            F.substring(
                F.md5(F.encode(F.concat(ks, F.lit(":" + str(int(seed)))),
                               "UTF-8")),
                1, 15),
            16, 10,
        ).cast("bigint").cast("double")
        / float(1 << 60)
    )
    coords = keydec.filter(u < float(fraction)).select(*POS_COLUMNS)
    if deletes is not None:
        coords = coords.join(deletes.select(*POS_COLUMNS),
                             on=POS_COLUMNS, how="left_anti")
    return _materialize_coords(blocks, coords, out_cols, use_cols,
                               file_keyed, max_groups,
                               headers=headers, refs=refs,
                               pre_grouped=pre_grouped)
