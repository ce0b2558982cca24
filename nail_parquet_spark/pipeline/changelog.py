"""Snapshot changelog (CDC) scan over a resumable encoded table.

``table_changes(spark, out_dir, from, to)`` returns the NET row-level
difference between the merge-on-read views at two snapshots — every row
that is alive at ``to`` but not at ``from`` tagged ``insert``, every row
alive at ``from`` but not at ``to`` tagged ``delete`` — the shape of an
Iceberg changelog scan (``create_changelog_view``), which the reference
cannot express at all (nail-parquet has no snapshot/commit concept; its
only "change" path rewrites whole files, src/commands/drop.rs).

NET means per-window, not per-commit: a row inserted AND deleted inside
the window appears in neither side (it never existed at either endpoint).
Changes are computed from the snapshot log, not by diffing two full table
scans:

- inserts can only live in batches committed in the window → those block
  groups decode;
- position-delete kills are known coordinates → only the block groups
  they land in decode (late materialization via the exact pair filter);
- equality-delete kills are resolved by the sequence rule through the
  SAME marking pass the MOR reader uses — two flag evaluations (at
  ``from`` and at ``to``) on one decoded frame, so the changelog can
  never disagree with ``read_table``.

Scale shape: one decode over the restricted block set; every join is a
broadcast of tiny snapshot-log/coordinate tables or a keyed coordinate
join. No full-table diff, no global window, no driver data pull beyond
O(#matching block groups) pair keys.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from nail_parquet_spark.codec.blockindex import BlockIndex
from nail_parquet_spark.codec.decode import (
    POS_COLUMNS,
    _schema_from_headers,
    _spark_ddl_of,
    decode_table,
)
from nail_parquet_spark.pipeline.checkpoint import (
    read_blocks_at,
    resolve_snapshot_id,
    visible_snapshots,
)
from nail_parquet_spark.pipeline.deletes import (
    _EQ_DELETED,
    _EQ_SNAP,
    _deletes_dir,
    _mark_equality_deletes,
    equality_delete_records,
)

CHANGE_TYPE = "_change_type"
COMMIT_SNAPSHOT = "_commit_snapshot"


def _data_records(recs: list[dict]) -> list[dict]:
    """Snapshot records that committed a data directory (append/upsert)."""
    return [s for s in recs if s.get("kind", "append") != "delete"]


def _pos_delete_records(recs: list[dict]) -> list[dict]:
    """Records carrying a POSITION-delete file (equality deletes live in
    key-schema files and resolve through the marking pass instead)."""
    return [s for s in recs
            if s.get("kind") in ("delete", "upsert")
            and s.get("delete") is not None and not s.get("eq_cols")]


def table_changes(spark: SparkSession, out_dir: str, from_snapshot: int,
                  to_snapshot: int | None = None,
                  columns: list[str] | None = None,
                  max_groups: int = 100_000) -> DataFrame:
    """Rows that changed between the table states at ``from_snapshot``
    (EXCLUSIVE — the baseline; 0 = before the first commit) and
    ``to_snapshot`` (INCLUSIVE, default latest).

    Returns the requested ``columns`` (default: every encoded column)
    plus ``_change_type`` ('insert' | 'delete') and ``_commit_snapshot``
    (the snapshot that caused the change: the batch commit for inserts;
    for deletes the position-delete's snapshot, or the latest matching
    equality delete's — the same latest-wins rule the MOR reader applies).

    Attribution when MULTIPLE deletes hit the same row inside the window
    (pinned, deliberately split by delete kind): position deletes
    attribute to the EARLIEST coordinate hit (the first commit that
    killed the physical row — later coordinate re-deletes are no-ops),
    while equality deletes attribute to the LATEST matching predicate
    (the rule the merge-on-read reader uses to decide whether a key is
    dead, so the changelog names the same snapshot the reader acts on).
    When both kinds hit one row, the position coordinate wins (it names a
    physical row; the equality match is derived). Consumers that need a
    single rule should treat ``_commit_snapshot`` for deletes as "the
    snapshot after which the row is gone", which both rules satisfy.

    Pinned contract:

    - NET semantics: rows both inserted and deleted inside the window
      appear on neither side.
    - The window must move FORWARD through a consistent history: if a
      rollback inside the window removed records that were visible at
      ``from`` (state regressed), or a batch visible at ``from`` was
      wipe-re-committed inside the window (its pre-state bytes are gone),
      the call raises instead of inventing changes it cannot render.
    - Both endpoints obey the same visibility rule as every other reader
      (``visible_snapshots``: rollbacks applied, latest-commit-per-batch).
    """
    to_snapshot = resolve_snapshot_id(out_dir, to_snapshot)
    from_snapshot = int(from_snapshot)
    if from_snapshot > to_snapshot:
        raise ValueError(
            f"from_snapshot {from_snapshot} is after to_snapshot "
            f"{to_snapshot}; the changelog window must move forward")

    at_from = visible_snapshots(out_dir, from_snapshot) \
        if from_snapshot > 0 else []
    at_to = visible_snapshots(out_dir, to_snapshot)
    from_ids = {s["snapshot"] for s in at_from}
    to_ids = {s["snapshot"] for s in at_to}
    if not from_ids <= to_ids:
        gone = sorted(from_ids - to_ids)
        raise ValueError(
            f"snapshots {gone} were visible at {from_snapshot} but not at "
            f"{to_snapshot} (a rollback crossed the window): the state "
            "regressed, so window changes cannot be rendered from the log — "
            "diff read_table() views of the two snapshots instead")

    from_batches = {s["batch"] for s in _data_records(at_from)}
    window_data = [s for s in _data_records(at_to)
                   if s["snapshot"] not in from_ids]
    rewiped = sorted({s["batch"] for s in window_data
                      if s["batch"] in from_batches})
    if rewiped:
        raise ValueError(
            f"batches {rewiped} were re-committed inside the window; the "
            f"retry wiped their pre-{from_snapshot} bytes, so those "
            "changes cannot be rendered")
    new_batches = {s["batch"] for s in window_data}

    headers_blocks = read_blocks_at(spark, out_dir, to_snapshot)
    idx = BlockIndex.load(headers_blocks, stats=False)
    headers, refs = idx.headers, idx.refs
    out_cols = columns if columns is not None else sorted(headers)
    clash = [c for c in out_cols if c in (CHANGE_TYPE, COMMIT_SNAPSHOT)]
    if clash:
        raise ValueError(
            f"table_changes reserves column names "
            f"{[CHANGE_TYPE, COMMIT_SNAPSHOT]}; the table has {clash}")

    def empty():
        schema = _schema_from_headers(headers, out_cols)
        ddl = (_spark_ddl_of(schema)
               + f", {CHANGE_TYPE} string, {COMMIT_SNAPSHOT} long")
        return spark.createDataFrame([], ddl)

    # window position-delete coordinates, tagged with their commit snapshot
    # (earliest wins when two window deletes hit the same coordinate)
    pos_win = None
    for rec in _pos_delete_records(at_to):
        if rec["snapshot"] in from_ids:
            continue
        one = (spark.read.parquet(
            os.path.join(_deletes_dir(out_dir), str(rec["delete"])))
            .select(*POS_COLUMNS)
            .withColumn("__psnap", F.lit(int(rec["snapshot"])).cast("long")))
        pos_win = one if pos_win is None else pos_win.unionByName(one)
    if pos_win is not None:
        pos_win = (pos_win.groupBy(*POS_COLUMNS)
                   .agg(F.min("__psnap").alias("__psnap")))

    eq_to = equality_delete_records(out_dir, to_snapshot)
    eq_from = equality_delete_records(out_dir, from_snapshot) \
        if from_snapshot > 0 else []
    eq_in_window = any(r["snapshot"] not in from_ids for r in eq_to)

    if not new_batches and pos_win is None and not eq_in_window:
        return empty()

    # ---- restrict the decode to block groups that CAN hold a change ----
    blocks = headers_blocks
    bkey = F.regexp_extract(F.input_file_name(), r"/batch=([^/]+)/", 1)
    if eq_in_window:
        # an equality delete can kill a row in ANY pre-existing batch: no
        # block-level restriction is sound (key columns aren't clustered
        # in general), so the flags run over the full decode
        pass
    else:
        conds = []
        if new_batches and len(new_batches) <= 4096:
            conds.append(bkey.isin(sorted(new_batches)))
        elif new_batches:
            conds.append(F.lit(True))  # too many new batches: no pruning
        if pos_win is not None:
            got = (pos_win.select("_part_id", "_block_id").distinct()
                   .limit(max_groups + 1).collect())
            if len(got) > max_groups:
                got = None  # truncated list: restriction would be unsound
            pairs = ({(r["_part_id"], r["_block_id"]) for r in got}
                     if got is not None else None)
            if pairs is None or len(pairs) > 4096:
                conds.append(F.lit(True))  # too many hit groups: no pruning
            elif pairs:
                # same exact-pair literal filter _filter_block_pairs uses,
                # expressed as a condition so it ORs with the batch test
                sep = F.concat_ws("#", F.col("part_id").cast("string"),
                                  F.col("block_id").cast("string"))
                conds.append(sep.isin([f"{p}#{b}" for p, b in pairs]))
        if not conds:
            # no new batches, no window kill coordinates, no eq deletes:
            # nothing can have changed
            return empty()
        cond = conds[0]
        for c in conds[1:]:
            cond = cond | c
        blocks = blocks.filter(cond)

    eq_all = sorted({c for r in eq_to for c in r["eq_cols"]})
    use_cols = list(out_cols)
    for c in eq_all:
        if c not in use_cols:
            use_cols.append(c)
    dec = decode_table(blocks, columns=use_cols, with_positions=True,
                       headers=headers, refs=refs)

    # ---- alive-at-from / alive-at-to flags on the one decoded frame ----
    # batch membership + commit snapshot (broadcast of the tiny log map).
    # Latest commit per batch wins (same rule as read_blocks_at /
    # _batch_snapshots): a batch with TWO visible commit records (a
    # marker-loss retry) must map to ONE row or the join duplicates every
    # decoded row of that batch; its dir holds the latest commit's bytes.
    latest: dict[str, int] = {}
    for s in _data_records(at_to):
        latest[s["batch"]] = max(int(s["snapshot"]),
                                 latest.get(s["batch"], 0))
    bmap = spark.createDataFrame(
        [(b, snap, snap in from_ids) for b, snap in latest.items()],
        "__cbatch string, __bsnap long, __in_from boolean")
    dec = dec.withColumn(
        "__cbatch", F.regexp_extract("_src_file", r"/batch=([^/]+)/", 1))
    dec = dec.join(F.broadcast(bmap), "__cbatch", "left")

    # position kills at from / in window
    def _pos_at(recs):
        dirs = [os.path.join(_deletes_dir(out_dir), str(s["delete"]))
                for s in _pos_delete_records(recs)]
        if not dirs:
            return None
        return spark.read.parquet(*dirs).select(*POS_COLUMNS)

    pos_from = _pos_at(at_from)
    if pos_from is not None:
        pf = pos_from.distinct().withColumn("__pkf", F.lit(True))
        dec = dec.join(pf, on=POS_COLUMNS, how="left")
    else:
        dec = dec.withColumn("__pkf", F.lit(None).cast("boolean"))
    if pos_win is not None:
        dec = dec.join(pos_win, on=POS_COLUMNS, how="left")
    else:
        dec = dec.withColumn("__psnap", F.lit(None).cast("long"))

    # equality kills at from, then at to (same marking pass as read_table)
    if eq_from:
        dec = _mark_equality_deletes(spark, out_dir, dec, eq_from,
                                     from_snapshot)
        dec = (dec.withColumnRenamed(_EQ_DELETED, "__ekf")
               .drop(_EQ_SNAP))
    else:
        dec = dec.withColumn("__ekf", F.lit(False))
    if eq_to:
        dec = _mark_equality_deletes(spark, out_dir, dec, eq_to,
                                     to_snapshot)
        dec = dec.withColumnRenamed(_EQ_DELETED, "__ekt")
    else:
        dec = (dec.withColumn("__ekt", F.lit(False))
               .withColumn(_EQ_SNAP, F.lit(None).cast("long")))

    killed_from = (F.col("__pkf").isNotNull() | F.col("__ekf"))
    killed_to = (F.col("__pkf").isNotNull() | F.col("__psnap").isNotNull()
                 | F.col("__ekt"))
    alive_from = (F.coalesce(F.col("__in_from"), F.lit(False))
                  & ~killed_from)
    alive_to = ~killed_to

    change = (F.when(alive_to & ~alive_from, F.lit("insert"))
              .when(alive_from & ~alive_to, F.lit("delete")))
    commit = (F.when(F.col(CHANGE_TYPE) == "insert", F.col("__bsnap"))
              .otherwise(F.coalesce(F.col("__psnap"), F.col(_EQ_SNAP))))
    return (dec.withColumn(CHANGE_TYPE, change)
            .filter(F.col(CHANGE_TYPE).isNotNull())
            .withColumn(COMMIT_SNAPSHOT, commit)
            .select(*out_cols, CHANGE_TYPE, COMMIT_SNAPSHOT))


def _read_cursor(cursor_path: str) -> int:
    import json

    if not os.path.exists(cursor_path):
        return 0
    with open(cursor_path) as f:
        return int(json.load(f)["snapshot"])


def poll_changes(spark: SparkSession, out_dir: str, cursor_path: str,
                 columns: list[str] | None = None):
    """Incremental changelog consumer, at-least-once: changes committed
    since the cursor's snapshot, plus an ack token.

    Returns ``(changes_df | None, token)`` where ``changes_df`` is
    :func:`table_changes` over ``(cursor, latest]`` (None when the log
    has nothing new) and ``token = {"from", "to"}``. The cursor file only
    advances when the consumer calls :func:`ack_changes` AFTER durably
    processing the batch — a crash in between re-delivers the same window
    (at-least-once; the NET semantics make redelivery idempotent for
    upsert-shaped consumers keyed on the row identity).

    A rollback committed past the cursor makes the window unrenderable
    and :func:`table_changes` raises — reset the cursor (delete the file
    or ack an explicit earlier token) after reconciling downstream.

    This is the polling analogue of an Iceberg incremental read; wire it
    into ``foreachBatch`` or a scheduler loop for streaming-shaped
    downstream pipelines (the snapshot log is the source of truth, no
    extra message bus).
    """
    last = _read_cursor(cursor_path)
    to = resolve_snapshot_id(out_dir)
    token = {"from": last, "to": to}
    if to <= last:
        return None, token
    return (table_changes(spark, out_dir, last, to, columns=columns), token)


def ack_changes(cursor_path: str, token: dict) -> None:
    """Advance the cursor to ``token['to']`` — call only after the polled
    batch is durably processed. Atomic write (tmp + rename)."""
    import json

    tmp = cursor_path + ".tmp"
    d = os.path.dirname(cursor_path)
    if d:
        os.makedirs(d, exist_ok=True)
    with open(tmp, "w") as f:
        json.dump({"snapshot": int(token["to"])}, f)
    os.replace(tmp, cursor_path)
