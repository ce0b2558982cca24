"""Driver-side block index: one metadata read per blocks-table op.

:meth:`BlockIndex.load` reads the non-payload columns of every block in ONE
Spark action (a plain select, like a parquet footer fetch) and parses them
once into one header per column, the xref references and per-codec null
facts, and per column one stat row per block (:class:`Block`). Zone-map
pruning, count classification and top-k bounds decide on the driver over
those rows (:mod:`codec.zonemap`). Bloom probes run inside the same select
(:func:`codec.bloom.bloom_probe`), one verdict column per probed
predicate, so bitmaps and payloads never reach the driver.

Each partition sends at most its share of ``max_groups + 1`` rows; when
one fills its share, an exact group count decides. Over ``max_groups``
groups the index keeps no per-block rows, takes its headers from a grouped
read of (column, codec, xref reference) and prunes nothing (never wrong,
only unpruned); under it one full read follows. Headers-only loads share a
small fixed budget, then take the grouped read. :meth:`from_files` feeds
the same parse from pyarrow reads of block files, with no Spark job.
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

    # ---- sources ------------------------------------------------------
    @classmethod
    def load(cls, blocks: DataFrame, max_groups: int = 100_000,
             probes=(), stats: bool = True) -> "BlockIndex":
        """Index ``blocks``, in one Spark action unless a partition fills
        its share of the row budget. ``probes``: predicates ``(column, op,
        value)`` whose bloom verdicts the read projects; only ``BLOOM_OPS``
        on a table with a ``bloom`` column probe. ``stats=False`` asks for
        headers, refs and codec facts only."""
        tz = blocks.sparkSession.conf.get("spark.sql.session.timeZone")
        cols, verdicts = [], []
        if stats and "bloom" in blocks.columns:
            for c, op, v in probes:
                kind = bloom.literal_kind(v) if op in BLOOM_OPS else None
                probe = bloom.bloom_probe(op, v, kind) if kind else None
                if probe is not None:
                    cols.append((c, op, v, kind))
                    verdicts.append(F.when(F.col("column") == c, probe))
        frame = _src_expr_frame(blocks)
        meta = frame.select("__src", *META_COLUMNS, *verdicts)
        rows = _collect_within(meta, blocks.rdd.getNumPartitions(),
                               max_groups + 1 if stats else _HEADER_ROWS)
        if rows is None:
            if not stats or (frame.select("__src", "part_id", "block_id")
                             .distinct().count() > max_groups):
                return cls._grouped(blocks, tz)
            rows = meta.collect()
        return cls._parse(rows, max_groups, cols, tz)

    @classmethod
    def from_files(cls, files: list[str]) -> "BlockIndex":
        """The index of block files read with pyarrow on the driver: every
        file's rows, so mixed codecs across resumed jobs are all seen."""
        import pyarrow.parquet as pq

        def records():
            for f in files:
                t = pq.read_table(f, columns=META_COLUMNS, use_threads=False)
                yield from zip([f] * t.num_rows,
                               *(t.column(c).to_pylist() for c in META_COLUMNS))

        return cls._parse(records(), float("inf"), [], None)

    @classmethod
    def _grouped(cls, blocks: DataFrame, tz: str | None) -> "BlockIndex":
        """Headers only, from one row per (column, codec, xref reference):
        a grouped read whose size does not grow with the table."""
        ref = F.when(F.col("codec").startswith("xref"),
                     F.get_json_object("header", "$.params.ref"))
        rows = (
            blocks.select("column", "codec", ref.alias("__ref"), "header",
                          "null_count")
            .groupBy("column", "codec", "__ref")
            .agg(F.first("header").alias("header"),
                 F.max("null_count").alias("max_null"))
            .collect())
        idx = cls({}, {}, {}, tz=tz)
        for r in rows:
            idx._add_header(r["column"], r["codec"], r["header"], r["max_null"])
        return idx

    @classmethod
    def _parse(cls, records, max_groups, probes, tz) -> "BlockIndex":
        """Build the index from ``(src, part_id, block_id, column, codec,
        n_rows, null_count, min_val, max_val, header, *verdicts)``
        records."""
        idx = cls({}, {}, {}, {}, probes, tz)
        groups = set()
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
