"""Driver-side block index: one metadata read per blocks-table op.

:meth:`BlockIndex.load` reads the non-payload columns of every block and
parses them once into one header per column, the xref references and
per-codec null facts, and per column one stat row per block
(:class:`Block`). Zone-map pruning, count classification and top-k bounds
decide on the driver over those rows (:mod:`codec.zonemap`), and each
probed predicate adds one bloom verdict per block, so bitmaps never leave
the reader and payloads are never read.

The read runs on the driver, with no Spark job, when the blocks frame is a
bare scan of at most ``_DRIVER_HEADER_MAX_FILES`` local parquet files
whose footers count at most ``_DRIVER_MAX_ROWS`` rows and fewer than the
budget below: pyarrow reads the metadata columns, and
:func:`codec.bloom.bloom_admits` judges the probed column's bitmaps. On 4
local cores it took 0.03-0.2 s at 1k metadata rows and 1.4-2.5 s at 100k
(4.2-4.6 s with a 50-key probe over 20k 10 KB bitmaps), 0.1-0.9 of the Spark
read's time at every size up to those limits. Every other frame
(in-memory encode output, filtered or cached frames, other sources,
remote files, larger tables) takes ONE Spark action, a plain select with
one verdict Column per probed predicate (:func:`codec.bloom.bloom_probe`).
Both give the same index.

In the Spark read each partition sends at most its share of
``max_groups + 1`` rows; when one fills its share, an exact group count
decides. Over ``max_groups`` groups the index keeps no per-block rows,
takes its headers from a grouped read of (column, codec, xref reference)
and prunes nothing (never wrong, only unpruned); under it one full read
follows. Headers-only loads share a small fixed budget, then take the
grouped read.
"""

from __future__ import annotations

import json
from typing import NamedTuple

from pyspark.sql import DataFrame, functions as F

from nail_parquet_spark.codec import bloom, zonemap

# the non-payload columns an index row carries, after its source file
META_COLUMNS = ["part_id", "block_id", "column", "codec", "n_rows",
                "null_count", "min_val", "max_val", "header"]
BLOOM_OPS = ("=", "==", "in", "prefix", "contains")
# monotonically_increasing_id() keeps the row's position inside its
# partition in the low 33 bits
_POS_MASK = (1 << 33) - 1
# metadata rows a headers-only load reads before it takes the grouped read
_HEADER_ROWS = 4096
# The driver reads a bare local table's index itself (no Spark job) up to
# these many files and metadata rows. Both are the largest sizes timed
# against the Spark read (4 local cores, 10 KB url bitmaps), and the driver
# was not slower at any of them: its reads are O(files) sequential IO and
# O(rows) Python, so a 100k-file lake table belongs to a Spark job.
# Headers-only loads stop at their _HEADER_ROWS budget: at 30k rows the
# grouped Spark read already matched the driver's.
_DRIVER_HEADER_MAX_FILES = 256
_DRIVER_MAX_ROWS = 100_000


class Block(NamedTuple):
    key: tuple          # (source file, part_id, block_id)
    n_rows: int
    null_count: int
    min_val: str | None
    max_val: str | None
    blooms: tuple       # one verdict per index probe; None = not probed


def _src_expr_frame(blocks: DataFrame, warn: bool = False) -> DataFrame:
    """``blocks`` plus a ``__src`` source-file column — empty string when
    ``input_file_name()`` is unavailable (in-memory encode output, cached
    relations, multi-source plans), where the bare (part, block) pair can
    collide across encode jobs: callers MUST detect duplicate keys."""
    try:
        out = blocks.withColumn("__src", F.input_file_name())
        out.schema  # force analysis: MULTI_SOURCES_UNSUPPORTED surfaces here
        return out
    except Exception as e:
        if "MULTI_SOURCES" not in str(e) and "input_file_name" not in str(e):
            raise
        if warn:
            import warnings

            warnings.warn(
                "decode: input_file_name() is unavailable for this blocks "
                "plan (multi-source); falling back to non-file-keyed "
                "grouping — only safe when ALL blocks come from one encode "
                "job",
                stacklevel=4,
            )
        return blocks.withColumn("__src", F.lit(""))


def _collect_within(frame: DataFrame, n_parts: int, budget: int):
    """All rows of ``frame``, or None when they may exceed ``budget``:
    each of the ``n_parts`` partitions sends at most its share of the
    budget, and a partition that fills its share may hold more."""
    if n_parts > budget:
        return None
    share = -(-budget // max(n_parts, 1))
    pos = F.monotonically_increasing_id().bitwiseAND(_POS_MASK)
    rows = (frame.withColumn("__pos", pos)
            .filter(F.col("__pos") < share).collect())
    if any(r["__pos"] == share - 1 for r in rows):
        return None
    return [r[:-1] for r in rows]


def _local_scan_files(blocks: DataFrame) -> list[str] | None:
    """The files of ``blocks``, sorted, when its optimized plan is a bare
    parquet scan (no filter, projection, join or cache above it) of local
    ``file:`` files; None otherwise. The index reads such a table on the
    driver (up to its limits below), and the parquet-sink decode runs one
    task per file."""
    try:
        plan = blocks._jdf.queryExecution().optimizedPlan()
    except AttributeError:  # a Spark Connect frame has no JVM plan
        return None
    if plan.getClass().getSimpleName() != "LogicalRelation":
        return None
    rel = plan.relation()
    if (rel.getClass().getSimpleName() != "HadoopFsRelation"
            or rel.fileFormat().getClass().getSimpleName()
            != "ParquetFileFormat"):
        return None
    files = sorted(blocks.inputFiles())
    if not all(f.startswith("file:") for f in files):
        return None
    return files


def _local_path(uri: str) -> str:
    """The path of a ``file:`` URI as ``inputFiles()`` gives it
    (percent-encoded)."""
    from urllib.parse import unquote, urlparse

    return unquote(urlparse(uri).path)


class BlockIndex:
    """Headers, xref references, codec facts and (under the cap) per-block
    stat rows and bloom verdicts of one blocks table."""

    def __init__(self, headers: dict[str, dict], refs: dict[str, set],
                 codecs: dict[str, dict],
                 blocks: dict[str, list[Block]] | None = None,
                 probes: list[tuple] = (), tz: str | None = None):
        self.headers = headers
        self.refs = refs
        # {column: {codec: {"max_null": int}}}: every codec a block of the
        # column uses, with the largest per-block null count under it
        self.codecs = codecs
        self.blocks = blocks  # {column: [Block]}; None over the cap
        self.probes = list(probes)  # (column, op, value, bloom kind)
        self.tz = tz  # session time zone, for timestamp literals
        self.n_groups = None  # distinct block groups
        # the sorted files of a bare local parquet scan, else None
        self.files = None

    # ---- sources ------------------------------------------------------
    @classmethod
    def load(cls, blocks: DataFrame, max_groups: int = 100_000,
             probes=(), stats: bool = True) -> "BlockIndex":
        """Index ``blocks``. ``probes``: predicates ``(column, op, value)``
        whose bloom verdicts the read adds; only ``BLOOM_OPS`` on a table
        with a ``bloom`` column probe. ``stats=False`` asks for headers,
        refs and codec facts only.

        A bare scan of at most ``_DRIVER_HEADER_MAX_FILES`` local parquet
        files whose footers count at most ``_DRIVER_MAX_ROWS`` rows and
        fewer than the budget (``max_groups + 1`` with stats,
        ``_HEADER_ROWS`` without) is read on the driver by
        :meth:`from_files`: no Spark job, a footer read and then one read
        of the metadata columns per file, about 0.04 s for 16 files of 1k
        rows and 2 s for 100k rows. Any other frame takes one Spark action,
        unless a partition fills its share of the budget. Either way
        ``files`` holds the files of a bare local parquet scan, whatever
        their number, and None for any other frame."""
        tz = blocks.sparkSession.conf.get("spark.sql.session.timeZone")
        cols = []
        if stats and "bloom" in blocks.columns:
            for c, op, v in probes:
                kind = bloom.literal_kind(v) if op in BLOOM_OPS else None
                if kind and bloom.probe_lanes(op, v, kind) is not None:
                    cols.append((c, op, v, kind))
        budget = max_groups + 1 if stats else _HEADER_ROWS
        files = _local_scan_files(blocks)
        idx = None
        if files is not None and len(files) <= _DRIVER_HEADER_MAX_FILES:
            idx = cls.from_files(files, cols, max_groups, tz,
                                 max_rows=min(budget - 1, _DRIVER_MAX_ROWS))
        if idx is None:
            idx = cls._spark_read(blocks, cols, max_groups, tz, budget, stats)
        idx.files = files
        return idx

    @classmethod
    def _spark_read(cls, blocks: DataFrame, cols, max_groups, tz, budget,
                    stats: bool) -> "BlockIndex":
        """The index from one Spark action over ``blocks``, unless a
        partition fills its share of ``budget``."""
        frame = _src_expr_frame(blocks)
        verdicts = [F.when(F.col("column") == c, bloom.bloom_probe(op, v, kind))
                    for c, op, v, kind in cols]
        meta = frame.select("__src", *META_COLUMNS, *verdicts)
        rows = _collect_within(meta, blocks.rdd.getNumPartitions(), budget)
        if rows is None:
            if not stats or (frame.select("__src", "part_id", "block_id")
                             .distinct().count() > max_groups):
                return cls._grouped(frame, tz)
            rows = meta.collect()
        return cls._parse(rows, max_groups, cols, tz)

    @classmethod
    def from_files(cls, files: list[str], probes, max_groups,
                   tz: str | None, max_rows: int) -> "BlockIndex | None":
        """The index of block files read with pyarrow on the driver: every
        file's rows, so mixed codecs across resumed jobs are all seen.
        ``files`` are ``file:`` URIs as ``inputFiles()`` gives them
        (percent-encoded), and each row's source key is the URI. ``probes``
        are the index's ``(column, op, value, kind)``: for the probed
        column's rows the ``bloom`` bitmap is judged by
        :func:`codec.bloom.bloom_admits`, and a file without a ``bloom``
        column reads as NULL bitmaps. None when the footers count more
        than ``max_rows`` rows; no column is read then."""
        import pyarrow.parquet as pq

        paths = [_local_path(f) for f in files]
        metas = [pq.read_metadata(p) for p in paths]
        if sum(m.num_rows for m in metas) > max_rows:
            return None
        lanes = [(c, op, bloom.probe_lanes(op, v, kind))
                 for c, op, v, kind in probes]

        def records():
            for f, p, m in zip(files, paths, metas):
                has_bloom = bool(lanes) and "bloom" in m.schema.names
                # ParquetFile with the footer already read: pq.read_table
                # sets up a dataset per call, several times the read itself
                with pq.ParquetFile(p, metadata=m) as pf:
                    t = pf.read(columns=META_COLUMNS + ["bloom"] * has_bloom,
                                use_threads=False)
                cols = t.column("column").to_pylist()
                bitmaps = t.column("bloom") if has_bloom else None
                verdicts = [
                    [bloom.bloom_admits(bitmaps[i].as_py() if has_bloom else None,
                                        op, ln) if col == c else None
                     for i, col in enumerate(cols)]
                    for c, op, ln in lanes]
                yield from zip([f] * t.num_rows,
                               *(t.column(c).to_pylist() for c in META_COLUMNS),
                               *verdicts)

        return cls._parse(records(), max_groups, probes, tz)

    @classmethod
    def _grouped(cls, frame: DataFrame, tz: str | None) -> "BlockIndex":
        """Headers only, from one row per (column, codec, xref reference)
        of ``frame`` (the blocks with their ``__src``): a grouped read
        whose size does not grow with the table. Each row carries the
        header of its first block in key order, as :meth:`_parse` reads
        them."""
        ref = F.when(F.col("codec").startswith("xref"),
                     F.get_json_object("header", "$.params.ref"))
        key = F.struct("__src", "part_id", "block_id")
        rows = (
            frame.select("column", "codec", ref.alias("__ref"), "header",
                         "null_count", key.alias("__key"))
            .groupBy("column", "codec", "__ref")
            .agg(F.min_by("header", "__key").alias("header"),
                 F.min("__key").alias("__key"),
                 F.max("null_count").alias("max_null"))
            .collect())
        idx = cls({}, {}, {}, tz=tz)
        for r in sorted(rows, key=lambda r: tuple(r["__key"])):
            idx._add_header(r["column"], r["codec"], r["header"], r["max_null"])
        return idx

    @classmethod
    def _parse(cls, records, max_groups, probes, tz) -> "BlockIndex":
        """Build the index from ``(src, part_id, block_id, column, codec,
        n_rows, null_count, min_val, max_val, header, *verdicts)``
        records, taken in key order."""
        idx = cls({}, {}, {}, {}, probes, tz)
        groups = set()
        # key order, not read order: the Spark and driver reads see the
        # rows in different orders, a column's header is its first block's,
        # and top-k bounds break ties by position
        records = sorted(records, key=lambda r: tuple(r[:3]))
        for src, pid, bid, col, codec, n, nulls, lo, hi, hdr, *v in records:
            key = (src, pid, bid)
            groups.add(key)
            idx.blocks.setdefault(col, []).append(
                Block(key, int(n), int(nulls or 0), lo, hi, tuple(v)))
            idx._add_header(col, codec, hdr, nulls)
        idx.n_groups = len(groups)
        if idx.n_groups > max_groups:
            idx.blocks = None
        return idx

    def _add_header(self, column: str, codec: str, header: str,
                    nulls) -> None:
        meta = self.codecs.setdefault(column, {}).setdefault(
            codec, {"max_null": 0})
        meta["max_null"] = max(meta["max_null"], int(nulls or 0))
        # headers of one column agree on the type; only xref headers carry
        # a reference, which may differ between encode jobs
        if column in self.headers and not codec.startswith("xref"):
            return
        h = json.loads(header)
        self.headers.setdefault(column, h)
        if h.get("codec") == "xref":
            self.refs.setdefault(column, set()).add(h["params"]["ref"])

    # ---- pruning --------------------------------------------------------
    def keep(self, clauses) -> set[tuple] | None:
        """The (part_id, block_id) pairs of the groups that may hold a row
        of the CNF ``clauses`` (a list of OR-lists of ``(column, op,
        value)``), or None when the index prunes nothing (over the cap, or
        every group may match). A group survives a clause when zone maps
        and blooms both admit it for some disjunct; a group without a block
        of a disjunct's column never matches that disjunct."""
        for clause in clauses:
            for c, op, _ in clause:
                self._check(c, op)
        if self.blocks is None:
            return None
        keys = None
        for clause in clauses:
            hit = set()
            for c, op, v in clause:
                hit |= self._keep_one(c, op, v)
            keys = hit if keys is None else keys & hit
        if len(keys) == self.n_groups:
            return None
        return {(p, b) for _, p, b in keys}

    def _check(self, column: str, op: str) -> None:
        if op not in zonemap.PRUNE_OPS and op != "contains":
            raise ValueError(
                f"op must be one of {zonemap.PRUNE_OPS + ('contains',)}, "
                f"got {op!r}")
        if column not in self.headers:
            raise ValueError(f"column {column!r} not in the blocks table")
        zonemap.check_prefix(zonemap.stat_kind(self.headers, column), op)

    def _keep_one(self, column: str, op: str, value) -> set[tuple]:
        kind = zonemap.stat_kind(self.headers, column)
        lit = (zonemap.coerce(self.headers, column, op, value, self.tz)
               if op not in ("isnull", "notnull", "contains") else None)
        i = self._probe_of(column, op, value)
        out = set()
        for b in self.blocks.get(column, ()):
            if op in ("isnull", "notnull"):
                ok = zonemap.null_keep(op, b.n_rows, b.null_count)
            else:
                ok = zonemap.block_class(kind, op, lit, b.n_rows, b.null_count,
                                         b.min_val, b.max_val) != zonemap.NONE
            if ok and (i is None or b.blooms[i] is not False):
                out.add(b.key)
        return out

    def _probe_of(self, column: str, op: str, value) -> int | None:
        """Position of the bloom verdicts of ``column op value`` in each
        :class:`Block`, or None when the read did not probe it or the
        column's kind differs from the literal's."""
        for i, (c, o, v, kind) in enumerate(self.probes):
            if (c, o, v) == (column, op, value):
                return i if self.headers[column]["kind"] == kind else None
        return None
