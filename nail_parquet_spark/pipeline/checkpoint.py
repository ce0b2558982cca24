"""Idempotent resume for the encode pipeline.

No Iceberg catalog ships in this sandbox, so snapshot checkpointing is
emulated with the same shape a catalog would give us (SURVEY.md §7.3):
work is keyed by input unit (parquet file = Iceberg data file), each
completed unit commits atomically (temp write -> fsync -> marker rename),
and a re-run skips committed units. Swap `_list_units` for an Iceberg
snapshot's file manifest and this is the real thing.

Scale shape: units are grouped into batches of ``units_per_job`` and each
batch runs as ONE cluster-wide ``encode_parquet_dir`` job (tasks fan out
over every row group of every file in the batch) — processing one file per
job, as round 1 did, would starve a 1000-executor cluster. Batch membership
is persisted in ``_batches.json`` so it never reshuffles when new source
files arrive between runs (growing-manifest-safe). Commit granularity is
the batch: markers are written only after the batch's sink files are fully
on disk, and a partially-marked or retried batch re-encodes WHOLE into its
own ``batch=<key>`` directory, so a crash mid-batch re-encodes at most one
batch and never leaves duplicate blocks.
"""

from __future__ import annotations

import glob
import hashlib
import json
import os
import shutil
import time

from pyspark.sql import SparkSession


def _list_units(src: str) -> list[str]:
    if os.path.isdir(src):
        return sorted(glob.glob(os.path.join(src, "*.parquet")))
    return [src]


def _unit_key(path: str) -> str:
    return os.path.basename(path).replace(".parquet", "")


def _atomic_json(path: str, obj: dict) -> None:
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        json.dump(obj, f)
        f.flush()
        os.fsync(f.fileno())
    os.rename(tmp, path)  # atomic commit


def encode_resumable(
    spark: SparkSession,
    src: str,
    out_dir: str,
    codecs: dict[str, str] | None = None,
    policy: str = "balanced",
    max_units: int | None = None,
    units_per_job: int = 32,
    stage: bool = False,
) -> dict:
    """Encode src parquet into out_dir, batch-of-units at a time, resumably.

    Returns {completed, skipped, total} unit counts. Killing the job midway
    and re-invoking continues where it left off; committed units are never
    re-encoded (idempotence gate = the per-unit marker file, written only
    after the whole batch's output is durable).

    ``stage=True`` is the write-audit-publish flow (Iceberg WAP): batches
    encode fully but commit a STAGED record instead of a snapshot — the
    data is durable and auditable (:func:`read_staged`) yet invisible to
    every reader until :func:`publish_staged` turns the staged records
    into snapshots (or :func:`discard_staged` wipes them for re-encode).
    Staged batches count as done for resume purposes, so a re-invocation
    never re-encodes them while the audit is pending."""
    from nail_parquet_spark.codec.encode import choose_codecs_for_df, encode_parquet_dir

    os.makedirs(out_dir, exist_ok=True)
    units = _list_units(src)
    done_dir = os.path.join(out_dir, "_manifests")
    batch_dir = os.path.join(out_dir, "_manifests_batch")
    os.makedirs(done_dir, exist_ok=True)
    os.makedirs(batch_dir, exist_ok=True)

    if codecs is None:
        df = spark.read.parquet(src)
        codecs = choose_codecs_for_df(df, df.columns, policy=policy)

    # Batch membership is PERSISTED (out_dir/_batches.json), not recomputed
    # from the unit list: position-based slicing would reshuffle every batch
    # when a new source file lands between existing ones, re-encoding
    # already-committed units into NEW batch directories while the old ones
    # stay on disk — silent duplication. Instead: units keep the batch they
    # were first assigned to forever; units never seen before are appended
    # as new batches. A batch with ANY unmarked unit re-encodes WHOLE under
    # its original key (directory wiped first, every marker rewritten), so a
    # crash between marker writes recovers cleanly.
    assign_path = os.path.join(out_dir, "_batches.json")
    if os.path.exists(assign_path):
        with open(assign_path) as f:
            batches: list[list[str]] = json.load(f)["batches"]
    else:
        # migrate pre-_batches.json layouts: markers record each unit's
        # batch, so committed membership is recoverable. Round-1 markers have
        # NO 'batch' field (that layout committed unit-at-a-time into
        # unit=<key>/ dirs) — each becomes its own committed single-unit
        # batch, so old units are never re-batched with new ones and never
        # re-encoded into a batch=*/ dir that would duplicate the blocks
        # still living under unit=<key>/.
        groups: dict[str, list[str]] = {}
        legacy: list[list[str]] = []
        for m in read_unit_markers(out_dir):
            if "batch" in m:
                groups.setdefault(m["batch"], []).append(m["unit"])
            else:
                legacy.append([m["unit"]])
        batches = [sorted(v) for _, v in sorted(groups.items())] + sorted(legacy)
        if batches:
            _atomic_json(assign_path, {"batches": batches, "units_per_job": units_per_job})
    known = {k for b in batches for k in b}
    new_keys = [_unit_key(u) for u in units if _unit_key(u) not in known]
    for i in range(0, len(new_keys), units_per_job):
        batches.append(new_keys[i : i + units_per_job])
    if new_keys:
        _atomic_json(assign_path, {"batches": batches, "units_per_job": units_per_job})

    src_by_key = {_unit_key(u): u for u in units}
    completed = skipped = 0
    for keys in batches:
        unmarked_keys = [
            k for k in keys
            if not os.path.exists(os.path.join(done_dir, f"{k}.json"))
        ]
        if not unmarked_keys:
            # fully committed — fine even if the sources were since archived
            skipped += len(keys)
            continue
        missing_src = [k for k in keys if k not in src_by_key]
        if missing_src:
            # the batch must re-encode WHOLE, but some of its sources are
            # gone: the blocks table would silently diverge
            raise ValueError(
                f"batch needs re-encoding but source units {missing_src} no "
                f"longer exist under {src} — clean out_dir or restore the files"
            )
        batch = [src_by_key[k] for k in keys]
        if max_units is not None and completed >= max_units:
            continue  # units stay pending for a later invocation
        bkey = hashlib.md5("|".join(keys).encode()).hexdigest()[:12]
        dest = os.path.join(out_dir, f"batch={bkey}")
        shutil.rmtree(dest, ignore_errors=True)  # partial/retried batch overwrites itself
        for k in keys:
            # a migrated round-1 unit that lost its marker re-encodes here:
            # drop its legacy unit=<key>/ output so blocks aren't duplicated
            shutil.rmtree(os.path.join(out_dir, f"unit={k}"), ignore_errors=True)
        t0 = time.time()
        mrows = encode_parquet_dir(spark, batch, dest, codecs=codecs).collect()
        _atomic_json(os.path.join(batch_dir, f"{bkey}.json"), {
            "batch": bkey,
            "units": keys,
            "files": sorted(r["file"] for r in mrows),
            "n_blocks": int(sum(r["n_blocks"] for r in mrows)),
            "n_rows": int(sum(r["n_rows"] for r in mrows)),
            "raw_bytes": int(sum(r["raw_bytes"] for r in mrows)),
            "enc_bytes": int(sum(r["enc_bytes"] for r in mrows)),
            "wall_s": round(time.time() - t0, 3),
            "codecs": codecs,
        })
        if stage:
            # staged record BEFORE the markers: a crash in between leaves
            # unmarked units, so the batch re-encodes whole (wiping the
            # dir and rewriting this record) — never a marked-but-
            # unreachable batch
            _atomic_json(os.path.join(_staged_dir(out_dir), f"{bkey}.json"),
                         {"batch": bkey, "units": keys, "ts": time.time()})
        # per-unit markers LAST: they are the idempotence gate
        for key, u in zip(keys, batch):
            _atomic_json(os.path.join(done_dir, f"{key}.json"),
                         {"unit": key, "src": u, "batch": bkey})
        if not stage:
            _commit_snapshot(out_dir, bkey, keys)
            # a stage=True run that crashed between its staged record and
            # the unit markers leaves a stale _staged/{bkey}.json; this
            # non-staged commit supersedes it — drop it so staged_batches
            # never reports a phantom and publish_staged can never commit
            # a duplicate snapshot for the batch (removed AFTER the
            # commit: a crash in between leaves the record, which the
            # already-visible guard in publish_staged then skips)
            sp = os.path.join(_staged_dir(out_dir), f"{bkey}.json")
            if os.path.exists(sp):
                os.remove(sp)
        completed += len(batch)
    return {"completed": completed, "skipped": skipped, "total": len(units)}


# ---------------------------------------------------------------------------
# write-audit-publish staging (Iceberg WAP shape)
# ---------------------------------------------------------------------------


def _staged_dir(out_dir: str) -> str:
    d = os.path.join(_snap_dir(out_dir), "_staged")
    os.makedirs(d, exist_ok=True)
    return d


def staged_batches(out_dir: str) -> list[dict]:
    """Records of encoded-but-unpublished batches, oldest first."""
    out = []
    for p in glob.glob(os.path.join(_snap_dir(out_dir), "_staged", "*.json")):
        with open(p) as f:
            out.append(json.load(f))
    return sorted(out, key=lambda r: (r.get("ts", 0), r["batch"]))


def read_staged(spark: SparkSession, out_dir: str,
                batch: str | None = None):
    """Blocks DataFrame of staged (unpublished) batches — the audit
    surface between write and publish. Pass ``batch`` for one batch."""
    recs = staged_batches(out_dir)
    if batch is not None:
        recs = [r for r in recs if r["batch"] == batch]
    if not recs:
        raise ValueError(f"no staged batches"
                         + (f" named {batch!r}" if batch else "")
                         + f" under {out_dir}")
    dirs = sorted(os.path.join(out_dir, f"batch={r['batch']}") for r in recs)
    return spark.read.parquet(*dirs)


def publish_staged(out_dir: str, batches: list[str] | None = None,
                   note: str | None = None) -> dict:
    """Turn staged batches into committed snapshots (the PUBLISH step of
    write-audit-publish), oldest staged first. Metadata-only — no data
    bytes move. Returns {published: [{batch, snapshot}], remaining}."""
    recs = staged_batches(out_dir)
    if batches is not None:
        want = set(batches)
        missing = want - {r["batch"] for r in recs}
        if missing:
            raise ValueError(f"batches {sorted(missing)} are not staged "
                             f"under {out_dir}")
        recs = [r for r in recs if r["batch"] in want]
    # validate EVERY directory before committing ANY snapshot: a missing
    # dir mid-loop would abort a multi-batch publish half-applied and the
    # caller would lose the list of batches that did publish
    gone = [r["batch"] for r in recs
            if not os.path.isdir(os.path.join(out_dir,
                                              f"batch={r['batch']}"))]
    if gone:
        raise ValueError(
            f"staged batches {gone} have no data directory under "
            f"{out_dir} (reaped or never completed) — discard_staged them "
            "and re-encode instead of committing dangling snapshots")
    # a batch whose append/upsert is ALREADY visible (e.g. a stale staged
    # record left by a crashed stage=True run that a non-staged rerun then
    # committed) must not be committed again — publishing it would append
    # a duplicate snapshot for the same data directory
    already = {s["batch"] for s in visible_snapshots(out_dir)
               if s.get("kind", "append") in ("append", "upsert")}
    published = []
    for r in recs:
        if r["batch"] in already:
            os.remove(os.path.join(_snap_dir(out_dir), "_staged",
                                   f"{r['batch']}.json"))
            continue
        extra = {"note": note} if note else None
        sid = _commit_snapshot(out_dir, r["batch"], r["units"], extra=extra)
        os.remove(os.path.join(_snap_dir(out_dir), "_staged",
                               f"{r['batch']}.json"))
        published.append({"batch": r["batch"], "snapshot": sid})
    return {"published": published, "remaining": len(staged_batches(out_dir))}


def discard_staged(out_dir: str, batches: list[str] | None = None) -> dict:
    """Drop staged batches the audit rejected: remove the staged record,
    the batch directory and manifest, and the unit markers — the next
    ``encode_resumable`` run re-encodes those units from source."""
    import shutil as _shutil

    recs = staged_batches(out_dir)
    if batches is not None:
        want = set(batches)
        missing = want - {r["batch"] for r in recs}
        if missing:
            raise ValueError(f"batches {sorted(missing)} are not staged "
                             f"under {out_dir}")
        recs = [r for r in recs if r["batch"] in want]
    dropped = []
    for r in recs:
        bkey = r["batch"]
        # markers first: if we crash mid-discard the batch re-encodes
        # whole (unmarked units), which rewrites dir + staged record anyway
        for k in r["units"]:
            mp = os.path.join(out_dir, "_manifests", f"{k}.json")
            if os.path.exists(mp):
                os.remove(mp)
        bp = os.path.join(out_dir, "_manifests_batch", f"{bkey}.json")
        if os.path.exists(bp):
            os.remove(bp)
        _shutil.rmtree(os.path.join(out_dir, f"batch={bkey}"),
                       ignore_errors=True)
        os.remove(os.path.join(_snap_dir(out_dir), "_staged", f"{bkey}.json"))
        dropped.append(bkey)
    return {"discarded": dropped, "remaining": len(staged_batches(out_dir))}


# ---------------------------------------------------------------------------
# snapshot log (Iceberg-shaped time travel over the emulated catalog)
# ---------------------------------------------------------------------------


def _snap_dir(out_dir: str) -> str:
    return os.path.join(out_dir, "_snapshots")


def _commit_snapshot(out_dir: str, bkey: str, units: list[str],
                     kind: str = "append", extra: dict | None = None) -> int:
    """Append a snapshot record after a batch commit — the same shape an
    Iceberg snapshot gives: a monotonically increasing id whose state is the
    union of all batches committed at or before it. One atomic file per
    snapshot (no append-interleave on crash); a retried batch gets a NEW
    snapshot that supersedes the one pointing at its wiped directory.

    ``kind`` mirrors Iceberg's snapshot operation: ``append`` (an encode
    batch), ``delete`` (a position-delete file only — no data dir), or
    ``upsert`` (one atomic commit carrying BOTH a new data batch and a
    position-delete file, Iceberg's ``overwrite``). ``extra`` fields (e.g.
    the delete id) merge into the record. Records written before this field
    existed read as ``append``."""
    sd = _snap_dir(out_dir)
    os.makedirs(sd, exist_ok=True)
    existing = sorted(int(os.path.basename(p).split(".")[0])
                      for p in glob.glob(os.path.join(sd, "*.json"))
                      if os.path.basename(p).split(".")[0].isdigit())
    snap_id = (existing[-1] + 1) if existing else 1
    rec = {
        "snapshot": snap_id,
        "batch": bkey,
        "units": units,
        "kind": kind,
        "ts": time.time(),
    }
    rec.update(extra or {})
    _atomic_json(os.path.join(sd, f"{snap_id}.json"), rec)
    return snap_id


def snapshots(out_dir: str) -> list[dict]:
    """Snapshot log, oldest first."""
    out = []
    for p in glob.glob(os.path.join(_snap_dir(out_dir), "*.json")):
        if not os.path.basename(p).split(".")[0].isdigit():
            continue  # _expired.json tombstone file lives alongside
        with open(p) as f:
            out.append(json.load(f))
    return sorted(out, key=lambda s: s["snapshot"])


def resolve_snapshot_id(out_dir: str, snapshot_id: int | None = None) -> int:
    """Default ``snapshot_id`` to the latest committed snapshot (0 when the
    log is empty — the pre-first-commit state)."""
    if snapshot_id is not None:
        return snapshot_id
    snaps = snapshots(out_dir)
    return snaps[-1]["snapshot"] if snaps else 0


def _effective_states(snaps: list[dict]) -> dict[int, list[int]]:
    """Replay the snapshot log: id -> the list of snapshot ids whose
    records make up the table state right AFTER that commit.

    Ordinary commits append their own id; a ``kind="rollback"`` record
    RESTORES the state as of its ``target`` snapshot (Iceberg's
    ``rollback_to_snapshot``: metadata-only, no data files touched), so
    every record committed between target and the rollback drops out of
    the state while remaining in the log for time travel/audit. A
    rollback whose target record was expired is unreplayable and raises.
    """
    states: dict[int, list[int]] = {}
    vis: list[int] = []
    for s in snaps:
        if s.get("kind") == "rollback":
            t = s["target"]
            if t not in states:
                raise ValueError(
                    f"snapshot {s['snapshot']} rolls back to snapshot {t}, "
                    "which is not in the log (expired or never committed); "
                    "the post-rollback state cannot be replayed"
                )
            vis = list(states[t])
        else:
            vis = vis + [s["snapshot"]]
        states[s["snapshot"]] = vis
    return states


def visible_snapshots(out_dir: str,
                      snapshot_id: int | None = None) -> list[dict]:
    """The snapshot records that make up the table state at
    ``snapshot_id`` (default latest), oldest first, with rollbacks
    applied. This — not ``id <= snapshot_id`` — is the visibility rule
    every reader (blocks, position deletes, equality deletes, sequence
    numbers) must share once rollbacks exist."""
    snaps = snapshots(out_dir)
    if not snaps:
        return []
    snapshot_id = resolve_snapshot_id(out_dir, snapshot_id)
    states = _effective_states(snaps)
    at = [s["snapshot"] for s in snaps if s["snapshot"] <= snapshot_id]
    if not at:
        return []
    ids = set(states[at[-1]])
    return [s for s in snaps if s["snapshot"] in ids]


def _tags_path(out_dir: str) -> str:
    return os.path.join(_snap_dir(out_dir), "_tags.json")


def tags(out_dir: str) -> dict[str, dict]:
    """Named snapshot refs: {name: {snapshot, ts, note}} (Iceberg tags)."""
    p = _tags_path(out_dir)
    if not os.path.exists(p):
        return {}
    with open(p) as f:
        return json.load(f)["tags"]


def tag_snapshot(out_dir: str, name: str, snapshot_id: int | None = None,
                 note: str | None = None) -> dict:
    """Create/move a named tag pointing at ``snapshot_id`` (default: the
    latest snapshot) — Iceberg's ``tag`` ref. Tags are retention roots:
    ``expire_snapshots`` never expires a tagged snapshot, so the tagged
    state stays time-travelable until the tag is deleted. Names that look
    like integers are refused (they would be ambiguous to ``resolve_ref``).
    """
    if not name or name.lstrip("-").isdigit():
        raise ValueError(f"tag name {name!r} must be non-empty and non-numeric")
    snaps = snapshots(out_dir)
    if not snaps:
        raise ValueError(f"no snapshots committed under {out_dir}")
    sid = resolve_snapshot_id(out_dir, snapshot_id)
    if sid not in {s["snapshot"] for s in snaps}:
        raise ValueError(f"snapshot {sid} is not in the log under {out_dir}")
    t = tags(out_dir)
    t[name] = {"snapshot": sid, "ts": time.time(), "note": note}
    _atomic_json(_tags_path(out_dir), {"tags": t})
    return {"tag": name, "snapshot": sid}


def delete_tag(out_dir: str, name: str) -> dict:
    t = tags(out_dir)
    if name not in t:
        raise ValueError(f"no tag {name!r} under {out_dir} "
                         f"(tags: {sorted(t)})")
    rec = t.pop(name)
    _atomic_json(_tags_path(out_dir), {"tags": t})
    return {"tag": name, "snapshot": rec["snapshot"], "deleted": True}


def resolve_ref(out_dir: str, ref: "int | str | None") -> int | None:
    """Turn a snapshot REF — an id, an id-like string, or a tag name —
    into a snapshot id (None passes through = latest)."""
    if ref is None or isinstance(ref, int):
        return ref
    s = str(ref).strip()
    if s.lstrip("-").isdigit():
        return int(s)
    t = tags(out_dir)
    if s not in t:
        raise ValueError(f"no tag {s!r} under {out_dir} (tags: {sorted(t)})")
    return int(t[s]["snapshot"])


def rollback_to(out_dir: str, target: int, note: str | None = None) -> dict:
    """Commit a metadata-only rollback: the table's current state becomes
    the state as of snapshot ``target`` (Iceberg ``rollback_to_snapshot``).

    Nothing on disk moves — commits made after ``target`` stay in the log
    (time travel to them still works until they are expired), they just no
    longer contribute to the current state. Appending after a rollback
    builds on the restored state. Refuses targets whose state is no longer
    physically readable (a constituent batch was wipe-and-rewritten by a
    later retry, or expiry removed a needed record)."""
    snaps = snapshots(out_dir)
    if not snaps:
        raise ValueError(f"no snapshots committed under {out_dir}")
    states = _effective_states(snaps)
    if target not in states:
        raise ValueError(
            f"snapshot {target} is not in the log under {out_dir} "
            f"(ids: {sorted(states)})")
    current = set(states[snaps[-1]["snapshot"]])
    restored = set(states[target])
    by_id = {s["snapshot"]: s for s in snaps}
    # physical readability: every restored batch dir must still hold the
    # bytes of its restored commit (latest commit overall for that batch
    # must itself be restored, else a retry rewrote the directory)
    latest_by_batch: dict[str, int] = {}
    for s in snaps:
        latest_by_batch[s["batch"]] = s["snapshot"]
    stale = sorted(
        by_id[i]["batch"] for i in restored
        if latest_by_batch[by_id[i]["batch"]] not in restored
        and latest_by_batch[by_id[i]["batch"]] > i)
    if stale:
        raise ValueError(
            f"cannot roll back to snapshot {target}: batches {stale} were "
            "re-committed after it, so their directories no longer hold "
            "the bytes that snapshot saw")
    if not any(by_id[i].get("kind", "append") not in ("delete", "rollback")
               for i in restored):
        raise ValueError(
            f"cannot roll back to snapshot {target}: that state holds no "
            "data commits")
    snap = _commit_snapshot(
        out_dir, f"rollback-{target}", [], kind="rollback",
        extra={"target": target, "note": note})
    return {"snapshot": snap, "target": target,
            "undone": sorted(current - restored),
            "restored": sorted(restored - current), "committed": True}


def read_blocks_at(spark: SparkSession, out_dir: str,
                   snapshot_id: int | None = None):
    """Time travel: the encoded-blocks DataFrame as of ``snapshot_id``
    (default: latest). Reads only the batch directories committed at or
    before the snapshot — a retried batch counts only if its directory still
    holds the latest commit (later snapshot with the same batch key wins,
    matching the wipe-and-rewrite recovery semantics)."""
    snaps = snapshots(out_dir)
    if not snaps:
        raise ValueError(f"no snapshots committed under {out_dir}")
    if snapshot_id is None:
        snapshot_id = snaps[-1]["snapshot"]
    # expiry guard FIRST: an expired commit's state contribution must be
    # covered by a surviving snapshot of the same batch at-or-before the
    # requested id, else this historical view can no longer be
    # reconstructed (and "predates the first commit" would mislabel it)
    for t in expired_tombstones(out_dir):
        if t["snapshot"] <= snapshot_id and not any(
            s["batch"] == t["batch"] and s["snapshot"] <= snapshot_id
            for s in snaps
        ):
            raise ValueError(
                f"snapshot {snapshot_id} is no longer readable: snapshot "
                f"{t['snapshot']} (batch {t['batch']}) was expired and no "
                f"surviving commit of that batch is visible at this id"
            )
    if not any(s["snapshot"] <= snapshot_id for s in snaps):
        raise ValueError(
            f"snapshot {snapshot_id} predates the first commit "
            f"({snaps[0]['snapshot']})"
        )
    # rollback-aware visibility: the state is NOT "all commits <= id" but
    # the effective record set after replaying rollbacks
    visible = visible_snapshots(out_dir, snapshot_id)
    vis_ids = {s["snapshot"] for s in visible}
    # latest commit per batch key wins (a batch retried AFTER the requested
    # snapshot has had its directory rewritten — the old bytes are gone, so
    # reading it as of the old snapshot would be a lie; refuse instead)
    latest_by_batch = {s["batch"]: s["snapshot"] for s in snaps}
    stale = [s["batch"] for s in visible
             if latest_by_batch[s["batch"]] not in vis_ids
             and latest_by_batch[s["batch"]] > s["snapshot"]]
    if stale:
        raise ValueError(
            f"batches {sorted(set(stale))} were re-committed after snapshot "
            f"{snapshot_id}; their original bytes were wiped by the retry, "
            f"so this snapshot is no longer readable"
        )
    # delete snapshots carry no data directory (their state lives under
    # _deletes/ and is applied by pipeline.deletes.read_table); rollback
    # records never enter the visible set at all
    dirs = sorted({os.path.join(out_dir, f"batch={s['batch']}")
                   for s in visible if s.get("kind", "append") != "delete"})
    if not dirs:
        raise ValueError(
            f"snapshot {snapshot_id} holds no data commits (delete-only "
            f"history) under {out_dir}")
    from nail_parquet_spark.codec.decode import read_blocks

    return read_blocks(spark, *dirs)


def read_manifests(out_dir: str) -> list[dict]:
    """Batch-level lineage manifests (totals sum correctly across batches)."""
    out = []
    for p in sorted(glob.glob(os.path.join(out_dir, "_manifests_batch", "*.json"))):
        with open(p) as f:
            out.append(json.load(f))
    return out


def read_unit_markers(out_dir: str) -> list[dict]:
    """Per-unit commit markers (the idempotence gate)."""
    out = []
    for p in sorted(glob.glob(os.path.join(out_dir, "_manifests", "*.json"))):
        with open(p) as f:
            out.append(json.load(f))
    return out


# ---------------------------------------------------------------------------
# table maintenance (Iceberg-shaped: expireSnapshots + removeOrphanFiles)
# ---------------------------------------------------------------------------


def _expired_path(out_dir: str) -> str:
    return os.path.join(_snap_dir(out_dir), "_expired.json")


def expired_tombstones(out_dir: str) -> list[dict]:
    """Records of expired snapshots ({snapshot, batch}); used by
    ``read_blocks_at`` to refuse time-travel views an expiry made
    unreconstructible instead of silently returning partial state."""
    p = _expired_path(out_dir)
    if not os.path.exists(p):
        return []
    with open(p) as f:
        return json.load(f)["tombstones"]


def expire_snapshots(
    out_dir: str,
    keep_last: int | None = None,
    older_than_ts: float | None = None,
) -> dict:
    """Expire old snapshot records (Iceberg ``expireSnapshots`` shape).

    Never expires a snapshot that is the LATEST commit of its batch key —
    those records define the table's current state (``read_blocks_at``
    reconstructs state as the union of latest-per-batch commits), so
    history shrinks but the current table always stays reconstructible.
    Also always keeps the globally latest snapshot. Expired ids move the
    read watermark: time travel at-or-below it raises rather than
    silently returning a partial view.
    """
    if keep_last is None and older_than_ts is None:
        raise ValueError("pass keep_last and/or older_than_ts")
    snaps = snapshots(out_dir)
    if not snaps:
        return {"expired": [], "kept": 0}
    protected = {max(s["snapshot"] for s in snaps if s["batch"] == b)
                 for b in {s["batch"] for s in snaps}}
    protected.add(snaps[-1]["snapshot"])
    # tags are retention roots (Iceberg): a tagged snapshot — and every
    # record its state is made of — never expires while the tag exists
    states0 = _effective_states(snaps)
    for t in tags(out_dir).values():
        if t["snapshot"] in states0:
            protected.add(t["snapshot"])
            protected.update(states0[t["snapshot"]])
    # rollback integrity: the log replay (_effective_states) must keep
    # working — every rollback record, its target, and every record a
    # rollback's restored state references stays protected, else replay
    # would silently reconstruct a different (partial) state
    for s in snaps:
        if s.get("kind") == "rollback":
            protected.add(s["snapshot"])
            protected.add(s["target"])
            protected.update(states0[s["target"]])
    if keep_last is not None:
        protected.update(s["snapshot"] for s in snaps[-keep_last:])
    expired = []
    for s in snaps:
        if s["snapshot"] in protected:
            continue
        if older_than_ts is not None and s["ts"] >= older_than_ts:
            continue
        expired.append({"snapshot": s["snapshot"], "batch": s["batch"]})
    # tombstones FIRST (crash between the two writes must fail readable-side
    # safe: a tombstone for a still-present snapshot is harmless)
    if expired:
        _atomic_json(_expired_path(out_dir),
                     {"tombstones": expired_tombstones(out_dir) + expired})
    for t in expired:
        os.remove(os.path.join(_snap_dir(out_dir), f"{t['snapshot']}.json"))
    return {"expired": [t["snapshot"] for t in expired],
            "kept": len(snaps) - len(expired)}


def remove_orphan_files(
    out_dir: str, dry_run: bool = False, older_than_s: float = 0.0
) -> dict:
    """Delete data directories no committed marker references (Iceberg
    ``removeOrphanFiles`` shape): a ``batch=*/`` left by a crash between
    wipe and commit, or a ``unit=*/`` whose legacy marker migrated away.

    ``older_than_s`` guards against reaping a directory a CONCURRENT encode
    job is writing right now (same caveat as Iceberg's orphan cleanup —
    default 0 suits single-writer; set > the longest batch wall time when
    writers overlap). ``dry_run`` lists without deleting."""
    live_batches = set()
    live_units = set()
    for m in read_unit_markers(out_dir):
        if "batch" in m:
            live_batches.add(m["batch"])
        else:
            live_units.add(m["unit"])
    # upsert batches commit via a snapshot record alone (no unit markers —
    # their rows never came from a source parquet unit); keep them live
    for s in snapshots(out_dir):
        if s.get("kind", "append") != "delete":
            live_batches.add(s["batch"])
    # staged (write-audit-publish) batches are referenced by their staged
    # record even in the crash window before markers land — never reap a
    # directory a later publish would commit a snapshot for
    for r in staged_batches(out_dir):
        live_batches.add(r["batch"])
    now = time.time()
    orphans = []
    for d in glob.glob(os.path.join(out_dir, "batch=*")):
        if os.path.basename(d).split("=", 1)[1] not in live_batches:
            if now - os.path.getmtime(d) >= older_than_s:
                orphans.append(d)
    for d in glob.glob(os.path.join(out_dir, "unit=*")):
        if os.path.basename(d).split("=", 1)[1] not in live_units:
            if now - os.path.getmtime(d) >= older_than_s:
                orphans.append(d)
    if not dry_run:
        for d in orphans:
            shutil.rmtree(d, ignore_errors=True)
    return {"orphans": sorted(orphans), "removed": not dry_run}
