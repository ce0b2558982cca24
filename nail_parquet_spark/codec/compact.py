"""Compaction for encoded-blocks tables.

A resumable out_dir accumulates many small block files (one per encode
task per batch). Rewriting them with a plain ``repartition().write`` would
break the decoder's group-per-file invariant AND leave the per-job
(part_id, block_id) collisions in place (each encode job restarts partition
ids at 0 — decode disambiguates by source file, which a rewrite destroys).

``compact_blocks`` fixes both: block groups are RE-KEYED to globally unique
ids derived from a 95-bit hash of (source file, part_id, block_id) — the
same triple the decoder groups by — and co-partitioned by the new key
before writing, so every output file again contains whole groups. The
result decodes under any grouping mode (file-keyed or not) and is safe to
union with the output of other encode jobs.

At 100 TB this is the table-maintenance job an Iceberg ``rewrite_data_files``
action would run: one shuffle sized by the ENCODED bytes (not raw),
output file count = ``num_files``.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F


def rekey_groups(blocks: DataFrame, src: Column) -> DataFrame:
    """Re-key block groups to globally unique ids: a 95-bit identity from
    two independently-seeded xxhash64 halves over (src, part_id, block_id).
    Survives unioning outputs of many jobs (collision needs BOTH halves to
    collide: ~2^-95 per pair). Both halves are computed in ONE projection so
    each sees the ORIGINAL key columns."""
    new_part = F.pmod(
        F.xxhash64(F.lit(1), src, "part_id", "block_id"), F.lit(1 << 31)
    ).cast("int")
    new_block = F.xxhash64(F.lit(2), src, "part_id", "block_id")
    return blocks.withColumns({"part_id": new_part, "block_id": new_block})


def compact_blocks(blocks: DataFrame, out_dir: str,
                   num_files: int = 32,
                   compression: str = "none") -> None:
    """Rewrite an encoded-blocks DataFrame into ``num_files`` parquet files
    with globally unique group ids and whole groups per file.

    ``compression`` defaults to none like the encode sink — payloads are
    already codec-compressed. ``blocks`` must be a file-backed scan (the
    group identity includes the source file, exactly like the decoder's
    group key): compaction refuses DataFrames where ``input_file_name()``
    is empty rather than silently re-merging cross-job collisions."""
    # EVERY row must carry a source file (a one-row probe would miss mixed
    # lineage, e.g. a file scan unioned with in-memory blocks, where the
    # empty-src rows would silently re-merge cross-job collisions)
    n_bad = (
        blocks.select(F.input_file_name().alias("f"))
        .where(F.length("f") == 0).limit(1).count()
    )
    if n_bad:
        raise ValueError(
            "compact_blocks needs a fully file-backed blocks DataFrame "
            "(spark.read.parquet(dir)); some rows have no input_file_name(), "
            "so group identities from different encode jobs could collide"
        )
    # mode('overwrite') DELETES out_dir while the job is still reading the
    # input scan — if any input file lives under out_dir (or out_dir IS the
    # directory backing the scan), the job can fail mid-write after the
    # originals are gone, losing the table (ADVICE r3). Refuse the overlap.
    import os
    from urllib.parse import unquote, urlparse

    def _norm(p: str) -> tuple[str, str]:
        u = urlparse(p)
        scheme = u.scheme or "file"
        path = unquote(u.path) if u.scheme else p
        return scheme, os.path.abspath(path)

    out_scheme, out_path = _norm(out_dir)
    for f in blocks.inputFiles():
        s, p = _norm(f)
        if s != out_scheme:
            continue
        if (p == out_path or p.startswith(out_path + os.sep)
                or os.path.dirname(p) == out_path):
            raise ValueError(
                f"compact_blocks out_dir {out_dir!r} overlaps the directory "
                f"backing the input blocks (e.g. {f!r}); overwriting a path "
                "the job is concurrently reading can lose the table — "
                "compact into a fresh directory, then swap"
            )
    # keep only the canonical block columns: partition-discovery extras
    # (batch=..., unit=...) must not become data columns in the output
    from nail_parquet_spark.codec.encode import BLOCKS_SCHEMA

    canon = BLOCKS_SCHEMA.names
    if "bloom" not in blocks.columns:
        # pre-bloom block dirs stay compactable (the column is optional
        # metadata; decode/prune treat a NULL bloom as "no filter, keep")
        blocks = blocks.withColumn("bloom", F.lit(None).cast("binary"))
    missing = [c for c in canon if c not in blocks.columns]
    if missing:
        raise ValueError(f"blocks table is missing columns {missing}")
    rekeyed = rekey_groups(blocks.select(*canon), F.input_file_name())
    (
        rekeyed.repartition(num_files, "part_id", "block_id")
        .write.mode("overwrite")
        .option("compression", compression)
        .parquet(out_dir)
    )
