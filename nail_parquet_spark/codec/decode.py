"""Distributed decode stage: encoded-blocks DataFrame -> original table.

Every decode streams the blocks of each (source file, part_id, block_id)
group, sorted by that key, through one group assembly
(:func:`_iter_groups`): each completed group decodes its per-column
payloads back to Arrow arrays and emits a record batch of the original
schema. One source function (:func:`_source`) picks, from the plan alone,
where those rows come from. A bare scan of local block files under the
file-keyed group identity, whose files each fit a read split, decodes one
task per file: this engine's encode writes whole groups per file, so each
task reads its file's groups with pyarrow, one stage with no Exchange.
Every other frame is co-located by a hash repartition and sorted.

A pruned read hands the source the index's exact keep-set
(:meth:`codec.blockindex.BlockIndex.keep`, the source-file-scoped group
keys). The per-file source reads only the files and row groups that hold
a kept group; the shuffle pushes the kept part and block ids into the
parquet scan and then filters the exact keys. Both decode exactly the
same groups. Row order is not preserved across the round trip
(verification joins on a key — per the north rule, byte-identical
``text`` per ``url``).

``decode_semijoin`` and ``decode_sample`` share one tail on either
source (:func:`_take_rows`): only the groups holding a picked row decode,
each keeping its picked rows by position.
"""

from __future__ import annotations

import os

import pyarrow as pa
from pyspark.sql import DataFrame, functions as F

from nail_parquet_spark.codec import zonemap
from nail_parquet_spark.codec.blockindex import (BlockIndex, _collect_within,
                                                 _local_path,
                                                 _local_scan_files,
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
             pre_grouped: bool = False, keep: set | None = None) -> DataFrame:
    """(source-file, part_id, block_id, column, header, payload) rows of the
    ``fetch_cols`` blocks, each group's rows adjacent within one partition:
    co-located by a hash repartition and sorted, unless ``pre_grouped``
    says they already are. Columns are restricted BEFORE grouping, so the
    shuffle carries only fetched payloads.

    ``keep`` (an exact keep-set of (source file, part_id, block_id) keys)
    restricts the rows to those groups: their exact pairs
    (:func:`_keep_pairs`, pushed into the scan), then under
    ``file_keyed=True`` the exact keys.

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
    # filters sit below input_file_name(): a nondeterministic projection
    # stops Catalyst from pushing anything above it into the scan
    blocks = _keep_pairs(blocks.filter(F.col("column").isin(fetch_cols)),
                         keep)
    if file_keyed:
        part = _src_expr_frame(blocks, warn=True).select("__src", *base)
        if keep is not None:
            part = _in_keys(part, ["__src", "part_id", "block_id"], keep)
    else:
        part = blocks.select(F.lit("").alias("__src"), *base)
    if pre_grouped:
        return part
    return (part.repartition("__src", "part_id", "block_id")
            .sortWithinPartitions("__src", "part_id", "block_id"))


# keys a literal isin carries; larger key sets take a broadcast semi-join
_LITERAL_KEYS = 4096


def _key_cond(cols: list[str], keys) -> F.Column:
    """Whether a row's ``cols`` equal one of the ``keys`` tuples: one
    literal ``isin`` on the joined key, for at most ``_LITERAL_KEYS``
    keys."""
    ident = F.concat_ws("\x00", *(F.col(c).cast("string") for c in cols))
    return ident.isin(sorted("\x00".join(map(str, k)) for k in keys))


def _in_keys(frame: DataFrame, cols: list[str], keys) -> DataFrame:
    """The rows of ``frame`` whose ``cols`` equal one of the ``keys``
    tuples: :func:`_key_cond` up to ``_LITERAL_KEYS`` keys, a broadcast
    semi-join above. Both are narrow, so rows adjacent within a partition
    stay adjacent."""
    if len(keys) <= _LITERAL_KEYS:
        return frame.filter(_key_cond(cols, keys))
    ddl = ", ".join(f"{c} {'string' if c == '__src' else 'bigint'}"
                    for c in cols)
    kdf = frame.sparkSession.createDataFrame(sorted(keys), ddl)
    return (frame.join(F.broadcast(kdf), cols, "left_semi")
            .select(*frame.columns))


def _fill_missing(missing_columns: str) -> bool:
    """True for ``missing_columns="null"`` (null-fill), False for
    ``"error"`` (refuse incomplete groups)."""
    if missing_columns not in ("error", "null"):
        raise ValueError("missing_columns must be 'error' or 'null'")
    return missing_columns == "null"


def _iter_groups(batches, columns, strict: bool = True):
    """Shared group-assembly state machine of every decode: rows arrive
    sorted by (src, part_id, block_id); flush on key transition,
    validate the requested columns per group, and refuse duplicate
    (group, column) rows — a duplicate means two distinct groups share a key
    (e.g. a union of in-memory encode jobs where the file key is empty) and
    silently overwriting would return row-misaligned data. Yields
    ``((src, part_id, block_id), {column: (header, payload)})`` per group.

    ``strict=False`` (schema evolution) skips the completeness check:
    groups encoded before a column existed yield partial dicts and the
    decoder null-fills them."""
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
                    yield cur_key, grp
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
        yield cur_key, grp


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
    return _no_rows(blocks.sparkSession,
                    _spark_ddl_of(_schema_from_headers(headers, columns)))


def _no_rows(spark, schema: str) -> DataFrame:
    """An empty frame in ``schema`` whose plan folds to an empty local
    relation, so an action on it starts no job."""
    return spark.createDataFrame([], schema).filter(F.lit(False))


# reserved row-coordinate columns appended by decode_table(with_positions=
# True): the (block-file, part, block, row-offset) address of a decoded row —
# the same shape as an Iceberg v2 position-delete coordinate (file_path, pos),
# scoped by the block-group key this table format uses.
POS_COLUMNS = ["_src_file", "_part_id", "_block_id", "_pos"]
POS_DDL = "_src_file string, _part_id bigint, _block_id bigint, _pos bigint"


def decode_table(blocks: DataFrame, columns: list[str] | None = None,
                 file_keyed: bool = True,
                 missing_columns: str = "error",
                 with_positions: bool = False,
                 headers: dict[str, dict] | None = None,
                 refs: dict[str, set] | None = None,
                 pre_grouped: bool = False) -> DataFrame:
    """Decode an encoded-blocks DataFrame back to the raw table.

    The source follows the plan (:func:`_source`): a bare scan of local
    block files (``spark.read.parquet`` of a block dir, ``read_blocks``)
    under ``file_keyed=True`` whose files each fit one read split decodes
    one task per file, one stage with no Exchange. Every other frame
    (in-memory ``encode_table`` output, filtered, cached or joined frames,
    remote files, ``file_keyed=False``, larger files) is co-located by a
    hash repartition and sorted. Both give the same rows, and the same
    ``_src_file`` under ``with_positions``.

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
    blocks table (or a superset) skip this function's own metadata read;
    an empty-after-pruning blocks frame then decodes to an empty typed
    frame instead of raising.

    ``pre_grouped=True`` (r06) skips the co-locating repartition + sort:
    valid when every block group's rows are already ADJACENT within one
    partition — true by construction for ``encode_table`` output and any
    narrow transformation of it (filters, pair filters, broadcast
    semi-joins, ``.cache()``), i.e. the in-memory encode→pushdown→decode
    pipeline shape. It removes the one Exchange that carries payload
    bytes (the decode becomes a pure map stage). NOT valid for blocks
    read back from disk (file splitting can cut a group in half) or any
    plan with a shuffle between encode and decode; a bare scan of local
    block files takes the per-file source whatever it says. Safety: a
    violated adjacency assumption splits a group into fragments that are
    each missing columns, so the strict group assembly REFUSES loudly
    (``missing_columns='error'``, the default) instead of mis-decoding;
    combining ``pre_grouped=True`` with ``missing_columns='null'`` puts
    that contract on the caller."""
    fill = _fill_missing(missing_columns)
    if headers is None or refs is None:
        idx = BlockIndex.load(blocks, stats=False)
        headers, refs, files = idx.headers, idx.refs, idx.files
    else:
        files = _local_scan_files(blocks)
    return _decode(blocks, headers, refs, files, columns,
                   file_keyed=file_keyed, fill=fill,
                   with_positions=with_positions, pre_grouped=pre_grouped)


def _decode(blocks: DataFrame, headers: dict[str, dict],
            refs: dict[str, set], files: list[str] | None,
            columns: list[str] | None, file_keyed: bool = True,
            fill: bool = False, with_positions: bool = False,
            pre_grouped: bool = False, keep: set | None = None,
            take: dict | None = None) -> DataFrame:
    """:func:`decode_table` of ``blocks`` given its index's headers, refs
    and files (:class:`codec.blockindex.BlockIndex`), reading only the
    groups of the exact keep-set ``keep`` when given. ``take`` maps each
    kept group key to the row offsets to emit, in order; the other rows of
    the group are dropped after its decode, and ``_pos`` keeps the
    offsets."""
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
    # xref columns need their reference column's blocks in the group even
    # when the caller didn't request it
    fetch_cols = _fetch_closure(headers, refs, columns)

    # Groups flush on key transition, and completeness is judged PER GROUP
    # against the requested columns — so batches encoded by different jobs
    # with different column sets or codecs each decode by their own
    # dependencies instead of a global column count.
    def dec(batches):
        import numpy as np

        for key, grp in _iter_groups(batches, columns, strict=not fill):
            rb = _decode_group(grp, columns, out_schema, fill_missing=fill)
            pos = pa.array(np.arange(rb.num_rows, dtype=np.int64))
            if take is not None:
                pos = pa.array(take[key], pa.int64())
                rb = rb.take(pos)
            if not with_positions:
                yield rb
                continue
            src, pid, bid = key
            n = rb.num_rows
            # run-length-style constant columns: one distinct value each —
            # arrow repeats cheaply, and Spark sees plain columns
            coord = [
                pa.array([src] * n, pa.string()),
                pa.array(np.full(n, pid, dtype=np.int64)),
                pa.array(np.full(n, bid, dtype=np.int64)),
                pos,
            ]
            yield pa.record_batch(list(rb.columns) + coord, schema=pos_schema)

    return _source(blocks, files, fetch_cols, file_keyed, dec,
                   _spark_ddl_of(pos_schema), keep, pre_grouped)


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


def _per_file(blocks: DataFrame, files: list[str] | None, file_keyed: bool,
              keep: set | None = None) -> bool:
    """Whether a decode reads its block files one task each instead of
    shuffling. ``files`` are those of a bare local parquet scan
    (:attr:`BlockIndex.files`); under the file-keyed group identity every
    group of such a scan lies inside one file. Only the files that hold a
    group of the keep-set ``keep`` are read, and a keep-set naming any
    other source shuffles. A file larger than
    ``spark.sql.files.maxPartitionBytes`` would make one task hold more
    than Spark's own reader gives it, so it takes the shuffle too."""
    if files is None or not file_keyed:
        return False
    read = files if keep is None else {k[0] for k in keep}
    if not set(read) <= set(files):
        return False
    split = (blocks.sparkSession._jsparkSession.sessionState().conf()
             .filesMaxPartitionBytes())
    return all(os.path.getsize(_local_path(f)) <= split for f in read)


def _file_rows(uri: str, fetch_cols: list[str], pairs: set | None = None):
    """The :func:`_grouped` rows of one block file, read with pyarrow: the
    ``fetch_cols`` blocks sorted by (part_id, block_id), after the file's
    URI as ``__src``. ``pairs`` (the file's kept (part_id, block_id)
    groups) goes into the read as a filter, so row groups without a kept
    group are skipped, and then keeps exactly those groups."""
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    want = pc.field("column").isin(fetch_cols)
    if pairs is not None:
        want &= (pc.field("part_id").isin(sorted({p for p, _ in pairs}))
                 & pc.field("block_id").isin(sorted({b for _, b in pairs})))
    # use_threads=False: a Spark task owns ONE core (see encode)
    t = pq.read_table(_local_path(uri), use_threads=False, filters=want,
                      columns=["part_id", "block_id", "column", "header",
                               "payload"])
    if pairs is not None:
        t = t.filter(pa.array(
            [k in pairs for k in zip(t.column("part_id").to_pylist(),
                                     t.column("block_id").to_pylist())],
            pa.bool_()))
    t = t.sort_by([("part_id", "ascending"), ("block_id", "ascending")])
    yield from t.add_column(0, "__src", pa.array([uri] * t.num_rows,
                                                 pa.string())).to_batches()


def _source(blocks: DataFrame, files: list[str] | None,
            fetch_cols: list[str], file_keyed: bool, dec, schema: str,
            keep: set | None = None, pre_grouped: bool = False) -> DataFrame:
    """``dec`` over the groups of ``blocks``: it takes the sorted group
    rows of :func:`_grouped` as Arrow batches and yields batches in
    ``schema``. ``keep``, an exact keep-set of (source file, part_id,
    block_id) keys, restricts it to those groups; an empty one gives an
    empty frame and starts no job. ``files`` are :attr:`BlockIndex.files`.

    Under :func:`_per_file` each task reads the kept groups of one file
    (:func:`_file_rows`), one stage with no Exchange; every other frame
    takes :func:`_grouped`'s shuffle. The choice depends on the plan
    alone."""
    spark = blocks.sparkSession
    if keep is not None and not keep:
        return _no_rows(spark, schema)
    if not _per_file(blocks, files, file_keyed, keep):
        return (_grouped(blocks, fetch_cols, file_keyed, pre_grouped, keep)
                .mapInArrow(dec, schema))
    if keep is None:
        slices = [(f, None) for f in files]
    else:
        by_file: dict[str, set] = {}
        for src, pid, bid in keep:
            by_file.setdefault(src, set()).add((pid, bid))
        slices = sorted(by_file.items())
    return map_slices(spark, slices,
                      lambda s: dec(_file_rows(s[0], fetch_cols, s[1])),
                      schema)


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

    The source of each task follows the plan as in ``decode_table``: a
    bare scan of local block files decodes one task per file, every other
    frame is co-located by a hash repartition and sorted. Both feed the
    same group assembly, so duplicate and incomplete groups are refused
    alike.

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
        for _, grp in _iter_groups(batches, columns, strict=not fill):
            w.write(_decode_group(grp, columns, out_schema, fill_missing=fill))
        if w.close():
            yield pa.record_batch(
                [pa.array([out.commit()]), pa.array([w.n_rows], pa.int64())],
                names=["file", "n_rows"],
            )

    return _source(blocks, idx.files, fetch_cols, file_keyed, dec,
                   "file string, n_rows bigint")


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

def _keep_pairs(blocks: DataFrame, keep) -> DataFrame:
    """``blocks`` restricted to the (part_id, block_id) pairs of ``keep``
    (an exact keep-set, or a set of pairs), unpruned when None: the part
    and block ids as literal ``isin`` filters, which Catalyst pushes into
    the parquet scan, then the exact pairs (:func:`_in_keys`). An empty
    set keeps nothing."""
    if keep is None:
        return blocks
    pairs = {k[-2:] for k in keep}
    parts = sorted({p for p, _ in pairs})
    bids = sorted({b for _, b in pairs})
    pushed = blocks.filter(F.col("part_id").isin(parts)
                           & F.col("block_id").isin(bids))
    return _in_keys(pushed, ["part_id", "block_id"], pairs)


def prune_blocks(blocks: DataFrame, column: str, op: str, value,
                 max_groups: int = 100_000) -> DataFrame:
    """Drop whole (part_id, block_id) groups whose ``column`` zone stats
    (encode-side ``min_val``/``max_val``) prove no row can satisfy
    ``column op value`` — the engine's parquet-row-group-pruning analogue.

    The keep-set is decided on the driver over one metadata read
    (:meth:`codec.blockindex.BlockIndex.keep`; over ``max_groups`` groups
    pruning is skipped, never wrong) and applied as its exact (part_id,
    block_id) pairs (:func:`_keep_pairs`), whose ids Catalyst pushes into
    the parquet scan: pruned groups' payload bytes are never read. The
    pairs drop the keep-set's source files, so the frame decodes under
    either ``file_keyed`` mode; where batch dirs reuse group numbers it
    keeps the same-numbered groups of other files too, which the residual
    row filter of a decode drops. The pushdown decodes
    (``decode_table_where_all`` and the rest) read only the kept groups.

    The prune rule and its safety rules (literal coercion, render cap,
    unparsed and missing stats, statless kinds) are
    :func:`codec.zonemap.block_class`'s.
    """
    if op not in zonemap.PRUNE_OPS:
        raise ValueError(f"op must be one of {zonemap.PRUNE_OPS}, got {op!r}")
    return _keep_pairs(blocks, BlockIndex.load(blocks, max_groups).keep(
        [[(column, op, value)]]))


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
    (:func:`codec.bloom.bloom_verdicts`: on the driver for a bare local
    scan, else in the Spark read's one ``mapInArrow`` pass, which never
    sends bitmaps to the driver); the keep-set, which zone maps narrow too, is applied like
    ``prune_blocks``'. A NULL bloom (no filter on that block, pre-bloom
    dir, unsupported type) always keeps the group, and a ``prefix`` on a
    non-string column prunes nothing."""
    if "bloom" not in blocks.columns:
        return blocks
    idx = BlockIndex.load(blocks, max_groups, probes=[(column, op, value)])
    if op == "prefix" and column in idx.headers \
            and idx.headers[column]["kind"] != "str":
        return blocks  # no prefix keys on a non-string column
    return _keep_pairs(blocks, idx.keep([[(column, op, value)]]))


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


def _where_columns(idx: BlockIndex, clauses, columns) -> tuple:
    """:func:`_columns` of a CNF read: the predicate columns decode too."""
    return _columns(idx.headers, columns,
                    *(p[0] for clause in clauses for p in clause))


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
    when some disjunct admits it — then ONE decode runs over exactly the
    surviving groups (the index's keep-set, one task per kept file on a
    bare local scan; see ``decode_table``) and the exact CNF expression
    filters residually. An all-pruned table decodes to an empty typed
    frame with no job. Semantics equal
    decode_table(...).filter((p11 OR p12 ...) AND (p21 ...) AND ...)."""
    clauses, idx = _where_index(blocks, predicates, max_groups)
    return _pruned_read(blocks, idx, _where_columns(idx, clauses, columns),
                        idx.keep(clauses),
                        lambda d: d.filter(_cnf_expr(clauses)),
                        file_keyed=file_keyed, pre_grouped=pre_grouped)


def _topk_keep(idx: BlockIndex, column: str, k: int,
               descending: bool) -> set | None:
    """The exact keep-set of groups that may hold a top-k row, or None."""
    if k < 1:
        raise ValueError("prune_blocks_topk: k must be >= 1")
    if column not in idx.headers:
        raise ValueError(f"column {column!r} not in the blocks table")
    kind = zonemap.stat_kind(idx.headers, column,
                             need="top-k must decode, then sort")
    if idx.blocks is None:
        return None
    rows = [(b.key, b.n_rows - b.null_count, b.min_val, b.max_val)
            for b in idx.blocks.get(column, ())
            if b.n_rows > b.null_count]  # an all-null group never ranks
    keep = zonemap.topk_keep(kind, rows, k, descending)
    return None if keep is None else set(keep)


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
    idx = BlockIndex.load(blocks, max_groups)
    return _keep_pairs(blocks, _topk_keep(idx, column, k, descending))


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
    dec = _decode(blocks, idx.headers, idx.refs, idx.files, use_cols,
                  file_keyed=file_keyed, pre_grouped=pre_grouped,
                  keep=_topk_keep(idx, column, k, descending))
    order = [F.col(column).desc() if descending else F.col(column).asc()]
    if tiebreak is not None:
        order.append(F.col(tiebreak).asc())
    return (dec.filter(F.col(column).isNotNull())
            .orderBy(*order).limit(int(k)).select(*out_cols))


def _topk_by_keep(idx: BlockIndex, group_col: str, column: str, k: int,
                  descending: bool) -> set | None:
    """The exact keep-set of groups that may hold a per-group top-k row,
    or None."""
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
        return None

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
                return None
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
    return keep


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
    idx = BlockIndex.load(blocks, max_groups)
    return _keep_pairs(blocks, _topk_by_keep(idx, group_col, column, k,
                                             descending))


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
    dec = _decode(blocks, idx.headers, idx.refs, idx.files, use_cols,
                  file_keyed=file_keyed, pre_grouped=pre_grouped,
                  keep=_topk_by_keep(idx, group_col, column, k, descending))
    order = [F.col(column).desc() if descending else F.col(column).asc()]
    if tiebreak is not None:
        order.append(F.col(tiebreak).asc())
    w = Window.partitionBy(group_col).orderBy(*order)
    return (dec.filter(F.col(group_col).isNotNull()
                       & F.col(column).isNotNull())
            .withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") <= int(k))
            .select(*out_cols))


# the one-job probe read sends at most this many rows per inline key; a
# probe it does not settle is deduplicated in Spark, in another job, so the
# value decides when that job runs, never whether the probe goes inline
_PROBE_ROWS_PER_KEY = 16
# the Spark key types whose equality pyarrow's is_in reproduces exactly;
# floating point (NaN, signed zero), timestamps (the session time zone) and
# decimals are joined in Spark
_ARROW_EQ_TYPES = ("string", "binary", "boolean", "tinyint", "smallint",
                   "int", "bigint", "date")


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

    The reference can only decode everything, then filter (nail-parquet's
    src/commands/data.rs); this is the columnar-native plan, staged so
    payload bytes it can rule out are NEVER read:

    1. the probe's distinct values (:func:`_probe_values`: usually one
       bounded collect deduplicated on the driver). A probe of at most
       ``inline_keys_max`` distinct values is inline: it prunes blocks
       through zone maps + equality blooms (the ``'in'`` op of
       prune_blocks/prune_blocks_bloom) in the index's one metadata read,
       giving the exact keep-set;
    2. ONLY ``key_col`` of the kept groups decodes — for a web corpus the
       dict/FSST url blocks, never the text/html payloads — to find the
       matching rows: in the decode tasks (``pyarrow.compute.is_in``) for
       an inline probe on a key of the probe's type in ``_ARROW_EQ_TYPES``,
       else by a Spark semi-join to the probe;
    3. :func:`_take_rows`: only the groups holding a match decode, each
       keeping its matching rows by position (a 50-key probe on a bare
       scan of local block files is 3 Spark jobs). A probe that matches
       nothing returns an empty frame with no decode job.

    ``keys`` must either contain ``key_col`` or be a single-column frame
    (renamed). To enrich probe rows instead of filtering the table, join
    the returned frame back to ``keys`` on ``key_col``.

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
    probe = probe.filter(F.col(key_col).isNotNull())

    # stage 1: an inline-able probe set prunes blocks from metadata alone,
    # read in the same single index load as the headers
    sample = _probe_values(probe, inline_keys_max)
    inline = ([[(key_col, "in", sample)]]
              if len(sample) <= inline_keys_max else [])
    idx = BlockIndex.load(blocks, max_groups,
                          probes=[p for clause in inline for p in clause])
    if key_col not in idx.headers:
        raise ValueError(f"column {key_col!r} not in the blocks table")

    cols = _columns(idx.headers, columns, key_col)
    keep = idx.keep(inline) if inline else None
    if not sample or keep == set():
        return _empty(blocks, idx.headers, cols[0])
    hits = _inline_hits(blocks, idx, key_col, sample,
                        probe.schema[key_col].dataType, keep, file_keyed,
                        pre_grouped) if inline else None
    return _take_rows(blocks, idx, key_col, cols, keep,
                      lambda d: d.join(probe, key_col, "left_semi"), deletes,
                      file_keyed, max_groups, pre_grouped, hits)


def _narrow_rows(frame: DataFrame, budget: int) -> list | None:
    """All rows of ``frame`` in one job (:func:`_collect_within`), or None
    when they may exceed ``budget`` or its plan has an exchange (AQE wraps
    every plan that has one)."""
    try:
        plan = frame._jdf.queryExecution().executedPlan()
    except AttributeError:  # a Spark Connect frame has no JVM plan
        return None
    if plan.getClass().getSimpleName() == "AdaptiveSparkPlanExec":
        return None
    return _collect_within(frame, frame.rdd.getNumPartitions(), budget)


def _probe_values(probe: DataFrame, limit: int) -> list:
    """The distinct values of the one-column ``probe``, up to ``limit + 1``
    of them. A probe without an exchange is read in one job, each
    partition sending at most its share of ``_PROBE_ROWS_PER_KEY`` rows
    per value (:func:`_narrow_rows`), and deduplicated on the driver. A
    probe that read does not settle runs ``distinct().limit(limit + 1)``
    in Spark instead."""
    rows = _narrow_rows(probe, _PROBE_ROWS_PER_KEY * (limit + 1))
    if rows is None:
        rows = probe.distinct().limit(limit + 1).collect()
    return _distinct([r[0] for r in rows])[:limit + 1]


def _distinct(values: list) -> list:
    """``values`` without repeats, in first-seen order, binary values as
    ``bytes``; unhashable ones (arrays, maps) are left as they are."""
    vals = [bytes(v) if isinstance(v, bytearray) else v for v in values]
    try:
        return list(dict.fromkeys(vals))
    except TypeError:
        return vals


def _inline_hits(blocks: DataFrame, idx: BlockIndex, key_col: str,
                 values: list, probe_type, keep: set | None,
                 file_keyed: bool, pre_grouped: bool) -> DataFrame | None:
    """The ``POS_COLUMNS`` of every row of the kept groups whose
    ``key_col`` is one of ``values``, judged inside the key-decode tasks
    of either source. None when the key's Spark type is not
    ``probe_type`` or not one of ``_ARROW_EQ_TYPES``."""
    from pyspark.sql.pandas.types import from_arrow_type

    schema = _schema_from_headers(idx.headers, [key_col])
    key_type = schema.field(0).type
    spark_type = from_arrow_type(key_type).simpleString()
    if (spark_type != probe_type.simpleString()
            or spark_type not in _ARROW_EQ_TYPES):
        return None
    value_set = pa.array(values, key_type)

    def match(batches):
        import pyarrow.compute as pc

        for (src, pid, bid), grp in _iter_groups(batches, [key_col]):
            arr = _decode_group(grp, [key_col], schema).column(0)
            pos = pc.indices_nonzero(pc.is_in(arr, value_set=value_set))
            n = len(pos)
            if n:
                yield pa.record_batch(
                    [pa.array([src] * n, pa.string()),
                     pa.array([pid] * n, pa.int64()),
                     pa.array([bid] * n, pa.int64()), pos.cast(pa.int64())],
                    names=POS_COLUMNS)

    return _source(blocks, idx.files,
                   _fetch_closure(idx.headers, idx.refs, [key_col]),
                   file_keyed, match, POS_DDL, keep, pre_grouped)


def _minus(frame: DataFrame, deletes: DataFrame | None,
           broadcast: bool = False) -> DataFrame:
    """``frame`` (with ``POS_COLUMNS``) without the rows whose coordinates
    ``deletes`` (if any) names, by one left-anti join."""
    if deletes is None:
        return frame
    d = deletes.select(*POS_COLUMNS)
    return frame.join(F.broadcast(d) if broadcast else d, POS_COLUMNS,
                      "left_anti")


def _pruned_read(blocks: DataFrame, idx: BlockIndex, cols: tuple,
                 keep: set | None, where, deletes: DataFrame | None = None,
                 file_keyed: bool = True, pre_grouped: bool = False,
                 broadcast_deletes: bool = False) -> DataFrame:
    """The groups of the keep-set ``keep`` (all when None) decoded as
    :func:`_columns`' pair ``cols``, minus ``deletes``, filtered by
    ``where`` (the read's own predicate, a frame-to-frame function)."""
    out_cols, use_cols = cols
    dec = _decode(blocks, idx.headers, idx.refs, idx.files, use_cols,
                  file_keyed=file_keyed, with_positions=deletes is not None,
                  pre_grouped=pre_grouped, keep=keep)
    return where(_minus(dec, deletes, broadcast_deletes)).select(*out_cols)


def _take_rows(blocks: DataFrame, idx: BlockIndex, key_col: str,
               cols: tuple, keep: set | None, where,
               deletes: DataFrame | None, file_keyed: bool, max_groups: int,
               pre_grouped: bool,
               matched: DataFrame | None = None) -> DataFrame:
    """Late-materialization tail of the semi-join and the sample.
    ``matched`` (the ``POS_COLUMNS`` of the picked rows) defaults to
    ``where``, the read's own predicate, over a decode of ``key_col``
    alone. Minus ``deletes``, at most ``max_groups + 1`` of them reach the
    driver (:func:`_narrow_rows`, else a limit), and the groups holding one
    decode, keeping those rows by position. Over ``max_groups`` the
    keep-set is read and filtered by ``where`` (:func:`_pruned_read`):
    pruned by the index, not by the matches, like every read over its cap."""
    if matched is None:
        matched = where(_decode(
            blocks, idx.headers, idx.refs, idx.files, [key_col],
            file_keyed=file_keyed, with_positions=True,
            pre_grouped=pre_grouped, keep=keep)).select(*POS_COLUMNS)
    matched = _minus(matched, deletes)
    rows = _narrow_rows(matched, max_groups + 1)
    if rows is None:
        rows = matched.limit(max_groups + 1).collect()
    if len(rows) > max_groups:
        return _pruned_read(blocks, idx, cols, keep, where, deletes,
                            file_keyed, pre_grouped)
    take: dict[tuple, list] = {}
    for src, pid, bid, pos in rows:
        take.setdefault((src, pid, bid), []).append(pos)
    return _decode(blocks, idx.headers, idx.refs, idx.files, cols[1],
                   file_keyed=file_keyed, pre_grouped=pre_grouped,
                   keep=set(take), take=take).select(*cols[0])


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
    picked row (:func:`_take_rows`). For a web corpus that means sampling
    1% of 100 TB reads the key blocks plus ~1% of the payload blocks,
    never the rest.

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
    if key_col not in idx.headers:
        raise ValueError(f"column {key_col!r} not in the blocks table")
    cols = _columns(idx.headers, columns, key_col)
    if fraction == 0.0:
        return _empty(blocks, idx.headers, cols[0])
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
    return _take_rows(blocks, idx, key_col, cols, None,
                      lambda d: d.filter(u < float(fraction)), deletes,
                      file_keyed, max_groups, pre_grouped)
