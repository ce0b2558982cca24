"""Merge-on-read position deletes over encoded block tables (DataFrame layer).

The reference deletes rows by rewriting the whole file (`nail drop --rows`,
reference: src/commands/drop.rs — collect, filter, write back). At 100 TB a
delete that rewrites every block is not a delete, it's a migration. This
module re-expresses row deletion the way Iceberg v2 does: a *position delete
file* — a tiny table of row coordinates — that readers anti-join at decode
time, so the encoded blocks themselves never rewrite. Compaction
(`pipeline.deletes.purge_deletes`) applies accumulated deletes physically.

A row coordinate is the 4-tuple appended by
``decode_table(with_positions=True)``:

    (_src_file, _part_id, _block_id, _pos)

``_src_file`` scopes the block-group key exactly like the decoder's
``file_keyed`` grouping (in-memory single-job block tables get ``""``);
``_pos`` is the row offset inside the block. Coordinates are stable for a
given on-disk block table — they are invalidated by any rewrite of the
blocks (compact_blocks, purge), which is why the rewrite paths apply deletes
rather than carry them.

Scale shape: computing a delete set decodes ONLY the predicate columns of
the zone-map/bloom-surviving block groups; applying one is a single
left_anti join on the 4 coordinate columns (broadcast when the delete side
is small — the pipeline layer passes a file-backed delete table so AQE sees
its size). Vectors of deleted rows never move; only coordinates do.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from nail_parquet_spark.codec.blockindex import BlockIndex
from nail_parquet_spark.codec.decode import (
    POS_COLUMNS,
    _cnf_expr,
    _prune,
    _where_index,
    decode_table,
)

POS_DDL = "_src_file string, _part_id bigint, _block_id bigint, _pos bigint"


def positions_where(blocks: DataFrame, predicates,
                    file_keyed: bool = True,
                    max_groups: int = 100_000) -> DataFrame:
    """Row coordinates of every row matching the CNF ``predicates``.

    Same predicate grammar as ``decode_table_where_all`` (clauses ANDed, a
    clause is a triple or a list of ORed triples). Zone maps and blooms
    prune block groups first; only the predicate columns of surviving
    groups decode. Returns a DataFrame with exactly ``POS_COLUMNS``."""
    clauses, idx = _where_index(blocks, predicates, max_groups)
    pred_cols: list[str] = []
    for clause in clauses:
        for col_, _, _ in clause:
            if col_ not in pred_cols:
                pred_cols.append(col_)
    missing = [c for c in pred_cols if c not in idx.headers]
    if missing:
        raise ValueError(f"predicate columns not in block table: {missing}")
    # headers pass through: an all-pruned frame decodes to zero coordinate
    # rows directly, with no emptiness probe job
    dec = decode_table(_prune(blocks, idx, clauses), columns=pred_cols,
                       file_keyed=file_keyed, with_positions=True,
                       headers=idx.headers, refs=idx.refs)
    return dec.filter(_cnf_expr(clauses)).select(*POS_COLUMNS)


def decode_except_where(blocks: DataFrame, deletes: DataFrame, predicates,
                        columns: list[str] | None = None,
                        file_keyed: bool = True,
                        max_groups: int = 100_000,
                        broadcast_deletes: bool = False) -> DataFrame:
    """``decode_table_where_all`` minus the rows named by ``deletes``:
    zone-map/bloom pruning still skips non-matching block groups (pruning
    never changes a surviving row's coordinates — group identity is
    physical), then the anti-join and the exact residual filter apply."""
    clauses, idx = _where_index(blocks, predicates, max_groups)
    pruned = _prune(blocks, idx, clauses)
    out_cols = list(columns) if columns is not None else sorted(idx.headers)
    kept = decode_except(pruned, deletes, columns=out_cols,
                         file_keyed=file_keyed,
                         broadcast_deletes=broadcast_deletes,
                         headers=idx.headers, refs=idx.refs)
    return kept.filter(_cnf_expr(clauses))


def decode_except(blocks: DataFrame, deletes: DataFrame,
                  columns: list[str] | None = None,
                  file_keyed: bool = True,
                  broadcast_deletes: bool = False,
                  headers: dict | None = None,
                  refs: dict | None = None) -> DataFrame:
    """``decode_table(blocks, columns)`` minus the rows named by ``deletes``.

    ``deletes`` must carry the 4 ``POS_COLUMNS`` (extra columns are
    ignored). The anti-join keys on the full coordinate, so delete files
    from different predicates/batches just union. Pass
    ``broadcast_deletes=True`` when the delete side is known-small and the
    plan can't see its size (e.g. an in-memory ``positions_where`` result —
    a mapInArrow plan has no stats, and a sort-merge anti-join would
    shuffle every decoded row)."""
    if headers is None or refs is None:
        idx = BlockIndex.load(blocks, stats=False)
        headers, refs = idx.headers, idx.refs
    out_cols = list(columns) if columns is not None else sorted(headers)
    dec = decode_table(blocks, columns=out_cols, file_keyed=file_keyed,
                       with_positions=True, headers=headers, refs=refs)
    d = deletes.select(*POS_COLUMNS)
    if broadcast_deletes:
        d = F.broadcast(d)
    return dec.join(d, on=POS_COLUMNS, how="left_anti").select(*out_cols)
