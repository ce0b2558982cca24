"""Snapshot-committed row deletes and key upserts over a resumable out_dir.

The reference's row-deletion path rewrites the whole file
(reference: src/commands/drop.rs — collect, filter, write back). At 100 TB
that's a migration, not a delete. This layer gives the encoded table the
Iceberg-v2 merge-on-read lifecycle instead:

- ``delete_where``   commits a *position-delete file* (a tiny parquet of row
  coordinates, computed with zone-map/bloom pruning so only the predicate
  columns of surviving block groups ever decode) plus a ``kind="delete"``
  snapshot record. No data block is rewritten.
- ``upsert``         commits new rows AND the position-deletes of the old
  rows sharing their keys in ONE snapshot (Iceberg's ``overwrite``) — the
  recrawl-replaces-old-page case a web corpus hits constantly.
- ``read_table``     is the merge-on-read reader: decode minus the
  anti-joined coordinates of every delete visible at the requested
  snapshot. Time travel composes: deletes committed after the snapshot are
  not applied.
- ``delete_keys``    commits an *equality delete* (Iceberg v2's second
  delete flavor): a tiny parquet of key VALUES, written with NO table scan
  at all — the whole point when the table is 100 TB and the keys arrive
  from outside (a takedown list, a recrawl feed). Applied at read time
  with Iceberg's sequence rule: the delete kills only rows whose batch was
  committed STRICTLY BEFORE the delete's snapshot, so keys re-inserted
  later survive. Key matching is null-safe (NULL = NULL), Iceberg's
  equality-delete semantics.
- ``purge_deletes``  is the maintenance rewrite (Iceberg
  ``rewrite_data_files`` + drop of applied delete files): block groups
  UNTOUCHED by any delete pass through byte-for-byte (re-keyed like
  ``compact_blocks``); only groups with deletes decode → anti-join →
  re-encode (equality deletes are resolved to positions first — see
  ``equality_positions``). Output is a fresh plain blocks dir, swap-in
  like compact's.

Coordinate stability contract: a coordinate is
(_src_file, _part_id, _block_id, _pos) — see codec/deletes.py. It is
stable for a given set of committed batch directories. ``encode_resumable``
never rewrites a COMMITTED batch (retries only touch unmarked batches), so
committed coordinates stay valid; the jobs that do rewrite blocks
(compact_blocks, zorder_sort, purge_deletes) must run purge FIRST or start
a fresh delete log on the new dir — purge_deletes applies every visible
delete, so its output starts clean by construction.

Scale shape: delete files carry only coordinates (4 small columns); the
merge-on-read anti-join is keyed on them and AQE broadcast-picks the
(file-backed, stats-visible) delete side. purge_deletes moves re-encode
work proportional to the AFFECTED groups, not the table.
"""

from __future__ import annotations

import glob
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from nail_parquet_spark.codec.compact import rekey_groups
from nail_parquet_spark.codec.blockindex import BlockIndex
from nail_parquet_spark.codec.decode import (
    POS_COLUMNS,
    POS_DDL,
    decode_table,
)
from nail_parquet_spark.codec.deletes import (
    decode_except,
    positions_where,
)
from nail_parquet_spark.pipeline.checkpoint import (
    _commit_snapshot,
    read_blocks_at,
    resolve_snapshot_id,
    snapshots,
    visible_snapshots,
)


def _deletes_dir(out_dir: str) -> str:
    return os.path.join(out_dir, "_deletes")


def _next_delete_id(out_dir: str) -> int:
    """Next delete-file id: past ids never reuse, including ids burned by a
    crash between the parquet write and the snapshot commit (their orphan
    dirs stay invisible — no snapshot references them)."""
    used = [0]
    for d in glob.glob(os.path.join(_deletes_dir(out_dir), "*")):
        base = os.path.basename(d)
        if base.isdigit():
            used.append(int(base))
    for s in snapshots(out_dir):
        if s.get("delete") is not None:
            used.append(int(s["delete"]))
    return max(used) + 1


def committed_deletes(out_dir: str) -> list[dict]:
    """Snapshot records that carry a delete file (position OR equality),
    oldest first."""
    return [s for s in snapshots(out_dir)
            if s.get("kind") in ("delete", "upsert")
            and s.get("delete") is not None]


_resolve_snapshot = resolve_snapshot_id


def _visible_deletes(out_dir: str, snapshot_id: int | None) -> list[dict]:
    """Delete-carrying records in the EFFECTIVE state at ``snapshot_id``
    (rollbacks applied — a rolled-back delete stops deleting), oldest
    first."""
    return [s for s in visible_snapshots(out_dir, snapshot_id)
            if s.get("kind") in ("delete", "upsert")
            and s.get("delete") is not None]


def read_deletes(spark: SparkSession, out_dir: str,
                 snapshot_id: int | None = None) -> DataFrame | None:
    """Union of every POSITION-delete file visible at ``snapshot_id``
    (default: latest), or None when no position delete is visible.
    Equality deletes live in separate key-schema files — see
    ``equality_delete_records`` / ``equality_positions``."""
    dirs = [os.path.join(_deletes_dir(out_dir), str(s["delete"]))
            for s in _visible_deletes(out_dir, snapshot_id)
            if not s.get("eq_cols")]
    if not dirs:
        return None
    return spark.read.schema(POS_DDL).parquet(*dirs)


def equality_delete_records(out_dir: str,
                            snapshot_id: int | None = None) -> list[dict]:
    """Equality-delete snapshot records visible at ``snapshot_id``
    (default: latest), oldest first."""
    return [s for s in _visible_deletes(out_dir, snapshot_id)
            if s.get("eq_cols")]


def _write_delete_file(out_dir: str, pos: DataFrame) -> tuple[int, int]:
    """Write coordinates to ``_deletes/<id>`` and return (id, n_rows).
    NOT yet committed — invisible until a snapshot records the id."""
    did = _next_delete_id(out_dir)
    path = os.path.join(_deletes_dir(out_dir), str(did))
    pos.select(*POS_COLUMNS).write.parquet(path)
    n = int(pos.sparkSession.read.schema(POS_DDL).parquet(path).count())
    return did, n


def delete_where(spark: SparkSession, out_dir: str, predicates,
                 note: str | None = None) -> dict:
    """Commit a merge-on-read delete of every row matching the CNF
    ``predicates`` (grammar of ``decode_table_where_all``). Rows whose
    predicate evaluates NULL are kept (SQL three-valued logic), exactly like
    ``DELETE WHERE`` in ANSI engines. Returns
    {deleted, delete_id, snapshot, committed}; a predicate matching nothing
    commits nothing."""
    blocks = read_blocks_at(spark, out_dir)
    pos = positions_where(blocks, predicates)
    did, n = _write_delete_file(out_dir, pos)
    if n == 0:
        return {"deleted": 0, "delete_id": None, "snapshot": None,
                "committed": False}
    snap = _commit_snapshot(
        out_dir, f"delete-{did}", [], kind="delete",
        extra={"delete": did, "rows": n,
               "predicates": repr(list(predicates)), "note": note})
    return {"deleted": n, "delete_id": did, "snapshot": snap,
            "committed": True}


def delete_keys(spark: SparkSession, out_dir: str, keys: DataFrame,
                note: str | None = None) -> dict:
    """Commit an *equality delete*: every row whose values on
    ``keys.columns`` null-safely match a key row is deleted — but only rows
    whose batch was committed STRICTLY BEFORE this delete's snapshot
    (Iceberg v2's sequence rule: data written in a later commit with the
    same key survives, which is what makes delete-then-reinsert correct).

    Unlike ``delete_where`` this performs NO table scan — the key table is
    written as-is, so committing a million-key takedown list against a
    100 TB table costs exactly the key write. The match cost moves to read
    time (one broadcast join per distinct key-column set) until
    ``purge_deletes`` applies it physically.

    Returns {deleted_keys, eq_cols, delete_id, snapshot, committed}; an
    empty key table commits nothing. ``deleted_keys`` counts distinct KEYS,
    not rows (the rows are not scanned — that is the point)."""
    blocks = read_blocks_at(spark, out_dir)  # validates the table exists
    headers = BlockIndex.load(blocks, stats=False).headers
    eq_cols = list(keys.columns)
    missing = [c for c in eq_cols if c not in headers]
    if missing:
        raise ValueError(
            f"equality-delete key columns {missing} are not columns of the "
            f"table ({sorted(headers)})")
    k = keys.distinct()
    did = _next_delete_id(out_dir)
    path = os.path.join(_deletes_dir(out_dir), str(did))
    k.write.parquet(path)
    n = int(spark.read.parquet(path).count())
    if n == 0:
        return {"deleted_keys": 0, "eq_cols": eq_cols, "delete_id": None,
                "snapshot": None, "committed": False}
    snap = _commit_snapshot(
        out_dir, f"eqdelete-{did}", [], kind="delete",
        extra={"delete": did, "eq_cols": eq_cols, "rows": n, "note": note})
    return {"deleted_keys": n, "eq_cols": eq_cols, "delete_id": did,
            "snapshot": snap, "committed": True}


_EQ_DELETED = "__eq_deleted"
_EQ_SNAP = "__eq_dsnap"


def _batch_snapshots(spark: SparkSession, out_dir: str,
                     snapshot_id: int) -> DataFrame:
    """Tiny (batch key → commit snapshot) mapping visible at
    ``snapshot_id`` — the sequence numbers the equality rule compares.
    Latest commit per batch wins, same as ``read_blocks_at``."""
    best: dict[str, int] = {}
    for s in visible_snapshots(out_dir, snapshot_id):
        if s.get("kind", "append") != "delete":
            best[s["batch"]] = max(s["snapshot"], best.get(s["batch"], 0))
    return spark.createDataFrame(
        [(b, s) for b, s in best.items()], "__batch string, __row_snap long")


def _mark_equality_deletes(spark: SparkSession, out_dir: str,
                           dec: DataFrame, recs: list[dict],
                           snapshot_id: int) -> DataFrame:
    """Annotate a position-decoded DataFrame (must carry ``_src_file`` and
    every eq column of ``recs``) with boolean ``__eq_deleted``: true iff
    some visible equality delete null-safely matches the row's key AND the
    row's batch committed strictly before that delete. Rows from files
    outside any committed batch dir (never produced by this layer) map to
    no sequence number and are never equality-deleted."""
    from collections import defaultdict
    from functools import reduce

    dec = dec.withColumn(
        "__batch", F.regexp_extract("_src_file", r"/batch=([^/]+)/", 1))
    dec = dec.join(F.broadcast(_batch_snapshots(spark, out_dir, snapshot_id)),
                   "__batch", "left")
    dec = dec.withColumn(_EQ_DELETED, F.lit(False))
    # changelog attribution: the LATEST matching delete's snapshot (same
    # latest-wins rule the kill window uses); NULL on rows no eq delete kills
    dec = dec.withColumn(_EQ_SNAP, F.lit(None).cast("long"))
    groups: dict[tuple, list[dict]] = defaultdict(list)
    for r in recs:
        groups[tuple(r["eq_cols"])].append(r)
    for eq_cols, rs in groups.items():
        # one row per key: the LATEST delete snapshot wins (a later delete
        # of the same key extends the kill window forward)
        parts = [
            spark.read.parquet(
                os.path.join(_deletes_dir(out_dir), str(r["delete"])))
            .select(*eq_cols)
            .withColumn("__dsnap", F.lit(int(r["snapshot"])).cast("long"))
            for r in rs
        ]
        ed = reduce(lambda a, b: a.unionByName(b), parts)
        ed = ed.groupBy(*eq_cols).agg(F.max("__dsnap").alias("__dsnap"))
        ed = ed.select(
            *[F.col(c).alias(f"__d_{c}") for c in eq_cols], "__dsnap")
        cond = reduce(lambda a, b: a & b,
                      [dec[c].eqNullSafe(F.col(f"__d_{c}"))
                       for c in eq_cols])
        dec = dec.join(F.broadcast(ed), on=cond, how="left")
        killed_now = (F.col("__dsnap").isNotNull()
                      & F.col("__row_snap").isNotNull()
                      & (F.col("__row_snap") < F.col("__dsnap")))
        dec = dec.withColumn(
            _EQ_SNAP,
            F.when(killed_now, F.greatest(F.col(_EQ_SNAP), F.col("__dsnap")))
            .otherwise(F.col(_EQ_SNAP)))
        dec = dec.withColumn(_EQ_DELETED, F.col(_EQ_DELETED) | killed_now)
        dec = dec.drop("__dsnap", *[f"__d_{c}" for c in eq_cols])
    return dec.drop("__batch", "__row_snap")


def equality_positions(spark: SparkSession, out_dir: str,
                       snapshot_id: int | None = None) -> DataFrame | None:
    """Resolve every visible equality delete to ROW COORDINATES (the
    ``POS_COLUMNS`` shape ``decode_except`` consumes), or None when no
    equality delete is visible. Decodes only the union of key columns.
    This is how ``purge_deletes`` folds equality deletes into its
    position-keyed rewrite."""
    snapshot_id = _resolve_snapshot(out_dir, snapshot_id)
    recs = equality_delete_records(out_dir, snapshot_id)
    if not recs:
        return None
    eq_all = sorted({c for r in recs for c in r["eq_cols"]})
    blocks = read_blocks_at(spark, out_dir, snapshot_id)
    dec = decode_table(blocks, columns=eq_all, with_positions=True)
    marked = _mark_equality_deletes(spark, out_dir, dec, recs, snapshot_id)
    return marked.filter(F.col(_EQ_DELETED)).select(*POS_COLUMNS)


def read_table(spark: SparkSession, out_dir: str,
               columns: list[str] | None = None,
               snapshot_id: int | None = None,
               apply_deletes: bool = True) -> DataFrame:
    """Merge-on-read view of the table at ``snapshot_id`` (default latest):
    decoded blocks minus every visible position delete, minus every row a
    visible equality delete kills under the sequence rule.
    ``apply_deletes=False`` gives the raw pre-delete decode (audit view)."""
    snapshot_id = _resolve_snapshot(out_dir, snapshot_id)
    blocks = read_blocks_at(spark, out_dir, snapshot_id)
    if not apply_deletes:
        return decode_table(blocks, columns=columns)
    eq_recs = equality_delete_records(out_dir, snapshot_id)
    pos = read_deletes(spark, out_dir, snapshot_id)
    if not eq_recs:
        if pos is None:
            return decode_table(blocks, columns=columns)
        return decode_except(blocks, pos, columns=columns)
    idx = BlockIndex.load(blocks, stats=False)
    headers, refs = idx.headers, idx.refs
    out_cols = list(columns) if columns is not None else sorted(headers)
    eq_all = {c for r in eq_recs for c in r["eq_cols"]}
    need = sorted(set(out_cols) | eq_all)
    dec = decode_table(blocks, columns=need, with_positions=True,
                       headers=headers, refs=refs)
    if pos is not None:
        dec = dec.join(pos.select(*POS_COLUMNS), on=POS_COLUMNS,
                       how="left_anti")
    dec = _mark_equality_deletes(spark, out_dir, dec, eq_recs, snapshot_id)
    return dec.filter(~F.col(_EQ_DELETED)).select(*out_cols)


def upsert(spark: SparkSession, out_dir: str, rows: DataFrame,
           key, codecs: dict[str, str] | None = None,
           policy: str = "balanced", block_rows: int = 65536,
           note: str | None = None) -> dict:
    """Key-based upsert in ONE atomic snapshot: position-delete every
    existing row whose ``key`` matches a new row, and append the new rows as
    an encoded batch. Crash before the snapshot commit leaves BOTH sides
    invisible (the batch dir has no snapshot, the delete file no reference).

    ``rows`` must carry exactly the table's columns and be unique on
    ``key`` (two new rows with one key have no defined winner — refused).
    The matched-key probe decodes ONLY the key columns and broadcasts the
    new-key set, so upsert cost scales with the batch, not the table."""
    import shutil

    from nail_parquet_spark.codec.encode import encode_table

    keys = [key] if isinstance(key, str) else list(key)
    blocks = read_blocks_at(spark, out_dir)
    idx = BlockIndex.load(blocks, stats=False)
    headers, refs = idx.headers, idx.refs
    if set(rows.columns) != set(headers):
        raise ValueError(
            f"upsert rows columns {sorted(rows.columns)} must equal the "
            f"table's columns {sorted(headers)} (decode refuses groups with "
            "missing columns)")
    missing = [k for k in keys if k not in rows.columns]
    if missing:
        raise ValueError(f"key columns not in rows: {missing}")
    # ONE job answers both "how many rows" and "is the key unique": total
    # rows + max per-key multiplicity (groupBy keeps NULL keys as a group,
    # unlike count_distinct, so NULL-keyed duplicates are still refused)
    stat = (rows.groupBy(*keys).agg(F.count(F.lit(1)).alias("__n"))
            .agg(F.sum("__n").alias("n"),
                 F.max("__n").alias("mx")).collect()[0])
    n_rows = int(stat["n"] or 0)
    if (stat["mx"] or 0) > 1:
        raise ValueError(
            "upsert rows are not unique on the key — two new rows with the "
            "same key have no defined winner")

    # old rows to retire: key-membership probe over key columns only
    dec = decode_table(blocks, columns=keys, with_positions=True,
                       headers=headers, refs=refs)
    dels = dec.join(F.broadcast(rows.select(*keys).distinct()),
                    on=keys, how="left_semi").select(*POS_COLUMNS)
    did, n_del = _write_delete_file(out_dir, dels)

    bkey = f"upsert-{did}"
    bdir = os.path.join(out_dir, f"batch={bkey}")
    if os.path.exists(bdir):  # crashed earlier attempt: no snapshot -> wipe
        shutil.rmtree(bdir)
    enc = encode_table(rows, codecs=codecs, policy=policy,
                       block_rows=block_rows)
    enc.write.parquet(bdir)
    snap = _commit_snapshot(
        out_dir, bkey, [], kind="upsert",
        extra={"delete": did if n_del else None, "rows": n_del,
               "inserted": n_rows, "note": note})
    return {"inserted": n_rows, "replaced": n_del, "snapshot": snap,
            "delete_id": did if n_del else None, "batch": bkey}


def purge_deletes(spark: SparkSession, out_dir: str, new_dir: str,
                  num_files: int = 32,
                  codecs: dict[str, str] | None = None,
                  policy: str = "balanced", block_rows: int = 65536,
                  bloom_columns: "list[str] | None" = None,
                  compression: str = "none",
                  max_affected_groups: int = 100_000) -> dict:
    """Apply every visible delete physically into a fresh blocks dir.

    Block groups no delete touches pass through BYTE-FOR-BYTE (payloads
    never decode; groups re-key like compact_blocks so the output unions
    safely); affected groups decode → drop deleted rows → re-encode. The
    output is a plain compacted blocks table (read with
    ``spark.read.parquet`` + ``decode_table``) with no snapshot/delete log
    — swap it in like compact's contract. Re-encoded groups re-run codec
    selection over the kept rows (same selector the original encode used);
    blooms are re-built only for ``bloom_columns``.

    Over ``max_affected_groups`` affected groups the group-split bookkeeping
    (a driver-side hash set, same cost class as decode's prune keep-sets)
    stops paying for itself — rewrite wholesale via decode + encode instead.
    """
    from nail_parquet_spark.codec.encode import encode_table

    dels = read_deletes(spark, out_dir)
    eq_pos = equality_positions(spark, out_dir)
    if dels is None and eq_pos is None:
        raise ValueError(
            f"no committed deletes under {out_dir}; for a pure rewrite use "
            "compact_blocks")
    if dels is None:
        dels = eq_pos
    elif eq_pos is not None:
        dels = dels.unionByName(eq_pos)
    out_norm, new_norm = os.path.abspath(out_dir), os.path.abspath(new_dir)
    if new_norm == out_norm or new_norm.startswith(out_norm + os.sep):
        raise ValueError(
            "purge must write OUTSIDE the table it reads (overwriting a "
            "path the job is concurrently reading can lose the table)")
    blocks = read_blocks_at(spark, out_dir)
    headers = BlockIndex.load(blocks, stats=False).headers
    out_cols = sorted(headers)

    # affected-group keys as one 64-bit hash (types pinned long to match the
    # coordinate side; a false positive only re-encodes an extra group —
    # the row data stays exact either way)
    hits = (dels.select(F.xxhash64("_src_file", "_part_id", "_block_id")
                        .alias("h")).distinct()
            .limit(max_affected_groups + 1).collect())
    if len(hits) > max_affected_groups:
        raise ValueError(
            f"deletes touch more than {max_affected_groups} block groups — "
            "most of the table is being rewritten; run a wholesale "
            "decode_except + encode_table migration instead")
    hset = [r["h"] for r in hits]
    gkey = F.xxhash64(F.input_file_name(), F.col("part_id").cast("long"),
                      F.col("block_id").cast("long"))

    from nail_parquet_spark.codec.encode import BLOCKS_SCHEMA

    canon = BLOCKS_SCHEMA.names
    base = blocks
    if "bloom" not in base.columns:
        base = base.withColumn("bloom", F.lit(None).cast("binary"))
    untouched = rekey_groups(
        base.filter(~gkey.isin(hset)).select(*canon), F.input_file_name())

    affected = blocks.filter(gkey.isin(hset))
    kept = decode_except(affected, dels, columns=out_cols)
    reenc = encode_table(kept, codecs=codecs, policy=policy,
                         block_rows=block_rows, bloom_columns=bloom_columns)
    salt = f"purge:{out_dir}:{len(snapshots(out_dir))}"
    reenc = rekey_groups(reenc.select(*canon), F.lit(salt))

    (untouched.unionByName(reenc)
     .repartition(num_files, "part_id", "block_id")
     .write.mode("overwrite").option("compression", compression)
     .parquet(new_dir))

    newb = spark.read.parquet(new_dir)
    first_col = out_cols[0]
    n_new = int(newb.filter(F.col("column") == first_col)
                .agg(F.sum("n_rows")).first()[0] or 0)
    n_old = int(blocks.filter(F.col("column") == first_col)
                .agg(F.sum("n_rows")).first()[0] or 0)
    return {"groups_affected": len(hset), "rows_before": n_old,
            "rows_after": n_new, "rows_deleted": n_old - n_new,
            "out": new_dir}
