"""Scale-feature tests: salted repartition, manifests, resumable encode,
scan-side encode."""
import os

import pytest
from pyspark.sql import functions as F

from nail_parquet_spark.codec.decode import decode_table, verify_roundtrip
from nail_parquet_spark.codec.encode import encode_parquet_dir, encode_table
from nail_parquet_spark.pipeline.checkpoint import encode_resumable, read_manifests
from nail_parquet_spark.pipeline.manifest import metrics_rollup, partition_manifest
from nail_parquet_spark.pipeline.partition import host_frequency, salted_repartition_by_host
from nail_parquet_spark.synth import webpages_spark


@pytest.fixture(scope="module")
def web_parquet(spark, tmp_path_factory):
    p = str(tmp_path_factory.mktemp("web") / "pages")
    webpages_spark(spark, 20_000, seed=42, n_parts=4).write.parquet(p)
    return p


def test_salted_repartition_bounds_skew(spark, web_parquet):
    df = spark.read.parquet(web_parquet)
    out = salted_repartition_by_host(df, n_partitions=16)
    sizes = (
        out.withColumn("p", F.spark_partition_id())
        .groupBy("p").count().agg(F.max("count"), F.avg("count")).collect()[0]
    )
    mx, avg = sizes
    # Zipf s=1.2 over 1000 hosts puts ~18% of rows on host0; salting must
    # break that up: no partition may hold >3x the mean
    assert mx < 3 * avg, f"partition skew survived salting: max={mx} avg={avg}"
    assert out.count() == 20_000


def test_host_frequency(spark, web_parquet):
    df = spark.read.parquet(web_parquet)
    top = host_frequency(df).orderBy(F.desc("n_rows")).first()
    assert top["n_rows"] > 20_000 * 0.05  # hot host exists


def test_files_mode_encode_matches_table_mode(spark, web_parquet, tmp_path):
    codecs = {"url": "zstd", "warc_ts": "delta_bitpack", "html": "zstd",
              "text": "zstd", "lang": "dict"}
    bdir = str(tmp_path / "blocks")
    encode_parquet_dir(spark, web_parquet, bdir, codecs=codecs).collect()
    dec = decode_table(spark.read.parquet(bdir), columns=["url", "warc_ts", "html", "text", "lang"])
    src = spark.read.parquet(web_parquet)
    res = verify_roundtrip(src, dec, key="url")
    assert res["joined_rows"] == 20_000 and res["total_mismatches"] == 0


def test_manifest_rollup(spark, web_parquet):
    blocks = encode_table(spark.read.parquet(web_parquet), policy="ratio").cache()
    m = partition_manifest(blocks, lineage={"job_id": "t1", "src": web_parquet})
    rows = m.collect()
    assert all(r["ratio"] > 1 for r in rows)
    assert all(set(r["codec_map"].keys()) == {"url", "warc_ts", "html", "text", "lang"} for r in rows)
    assert rows[0]["job_id"] == "t1"
    roll = metrics_rollup(m).collect()[0]
    assert roll["n_rows"] == 20_000


def test_encode_resumable(spark, web_parquet, tmp_path):
    out = str(tmp_path / "enc")
    codecs = {"url": "zstd", "warc_ts": "delta_bitpack", "html": "zstd",
              "text": "zstd", "lang": "dict"}
    r1 = encode_resumable(spark, web_parquet, out, codecs=codecs, max_units=2,
                          units_per_job=2)
    assert r1["completed"] == 2 and r1["skipped"] == 0
    r2 = encode_resumable(spark, web_parquet, out, codecs=codecs, units_per_job=2)
    assert r2["skipped"] == 2
    assert r2["completed"] == r2["total"] - 2
    r3 = encode_resumable(spark, web_parquet, out, codecs=codecs)
    assert r3["completed"] == 0 and r3["skipped"] == r3["total"]  # idempotent
    from nail_parquet_spark.pipeline.checkpoint import read_unit_markers

    assert len(read_unit_markers(out)) == r3["total"]
    mans = read_manifests(out)
    assert sum(len(m["units"]) for m in mans) == r3["total"]
    assert all(m["raw_bytes"] > m["enc_bytes"] for m in mans)
    # crash recovery: delete ONE unit's marker (simulating a crash between
    # marker writes); the re-run must re-encode that unit's WHOLE batch
    # under its original key — no duplicate blocks anywhere
    import glob as _glob

    markers = sorted(_glob.glob(os.path.join(out, "_manifests", "*.json")))
    os.remove(markers[0])
    r4 = encode_resumable(spark, web_parquet, out, codecs=codecs)
    assert r4["completed"] == 2  # the victim batch re-ran whole (2 units)
    assert len(read_unit_markers(out)) == r4["total"]

    # decode everything that was committed and verify round trip
    blocks = spark.read.parquet(os.path.join(out, "batch=*"))
    dec = decode_table(blocks, columns=["url", "warc_ts", "html", "text", "lang"])
    res = verify_roundtrip(spark.read.parquet(web_parquet), dec, key="url")
    assert res["total_mismatches"] == 0 and res["joined_rows"] == 20_000


def test_decode_to_parquet_roundtrip(spark, web_parquet, tmp_path):
    from nail_parquet_spark.codec.decode import decode_to_parquet

    codecs = {"url": "zstd", "warc_ts": "delta_bitpack", "html": "zstd",
              "text": "zstd", "lang": "dict"}
    bdir = str(tmp_path / "blocks")
    encode_parquet_dir(spark, web_parquet, bdir, codecs=codecs).collect()
    out = str(tmp_path / "decoded")
    man = decode_to_parquet(spark.read.parquet(bdir), out, columns=["url", "warc_ts", "html", "text", "lang"])
    assert man.agg({"n_rows": "sum"}).collect()[0][0] == 20_000
    res = verify_roundtrip(spark.read.parquet(web_parquet), spark.read.parquet(out), key="url")
    assert res["total_mismatches"] == 0 and res["joined_rows"] == 20_000


def test_encode_web_pipeline(spark, web_parquet):
    from nail_parquet_spark.pipeline import encode_web_pipeline

    df = spark.read.parquet(web_parquet)
    blocks, manifest = encode_web_pipeline(df, n_partitions=8, policy="ratio",
                                           lineage={"job_id": "w1"})
    blocks = blocks.cache()
    m = manifest.collect()
    assert sum(r["n_rows"] for r in m) == 20_000
    assert all(r["job_id"] == "w1" for r in m)
    # host-sorted partitions must make lang cheap (runs) vs unsorted encode
    lang_bytes = blocks.filter(F.col("column") == "lang").agg(F.sum("enc_bytes")).collect()[0][0]
    base = encode_table(df.repartition(8), policy="ratio").filter(F.col("column") == "lang")
    base_bytes = base.agg(F.sum("enc_bytes")).collect()[0][0]
    assert lang_bytes < base_bytes
    dec = decode_table(blocks, columns=df.columns)
    res = verify_roundtrip(df, dec, key="url")
    assert res["total_mismatches"] == 0


def test_decode_parquet_dir_shuffle_free(spark, web_parquet, tmp_path):
    from nail_parquet_spark.codec.decode import decode_parquet_dir

    cols = ["url", "warc_ts", "html", "text", "lang"]
    codecs = {"url": "zstd", "warc_ts": "delta_bitpack", "html": "zstd",
              "text": "zstd", "lang": "dict"}
    bdir = str(tmp_path / "blocks")
    encode_parquet_dir(spark, web_parquet, bdir, codecs=codecs).collect()
    out = str(tmp_path / "decoded")
    man = decode_parquet_dir(spark, bdir, out, columns=cols)
    assert man.agg({"n_rows": "sum"}).collect()[0][0] == 20_000
    res = verify_roundtrip(spark.read.parquet(web_parquet), spark.read.parquet(out), key="url")
    assert res["total_mismatches"] == 0


def test_encode_resumable_growing_source(spark, web_parquet, tmp_path):
    """New source files arriving between runs must NOT reshuffle existing
    batch membership (persisted _batches.json) — position-based slicing
    would re-encode committed units into new batch dirs, duplicating rows."""
    import glob as _glob
    import shutil as _shutil

    src = str(tmp_path / "growing")
    os.makedirs(src)
    files = sorted(_glob.glob(os.path.join(web_parquet, "*.parquet")))
    assert len(files) >= 3
    # start with the LAST files (sort late), then add one that sorts FIRST
    for f in files[1:]:
        _shutil.copy(f, src)
    out = str(tmp_path / "enc")
    codecs = {"url": "zstd", "warc_ts": "delta_bitpack", "html": "zstd",
              "text": "zstd", "lang": "dict"}
    def encoded_rows():
        b = spark.read.parquet(os.path.join(out, "batch=*"))
        return b.filter(F.col("column") == "url").agg(F.sum("n_rows")).collect()[0][0]

    r1 = encode_resumable(spark, src, out, codecs=codecs, units_per_job=2)
    assert r1["completed"] == len(files) - 1
    n1 = encoded_rows()
    _shutil.copy(files[0], src)  # sorts before every existing unit
    r2 = encode_resumable(spark, src, out, codecs=codecs, units_per_job=2)
    assert r2["completed"] == 1 and r2["skipped"] == len(files) - 1
    new_rows = spark.read.parquet(files[0]).count()
    assert encoded_rows() == n1 + new_rows  # no duplicates from reshuffled batches


def test_encode_resumable_migrates_round1_layout(spark, web_parquet, tmp_path):
    """Round-1 markers carry no 'batch' field (that layout committed one
    unit=<key>/ dir per unit). Resuming over such an out_dir must treat each
    legacy marker as its own committed single-unit batch: legacy units are
    never re-batched with new ones and never re-encoded into batch=*/ dirs
    that would duplicate the blocks still under unit=<key>/."""
    import glob as _glob
    import json as _json

    from nail_parquet_spark.codec.encode import encode_parquet_dir
    from nail_parquet_spark.pipeline.checkpoint import read_unit_markers

    files = sorted(_glob.glob(os.path.join(web_parquet, "*.parquet")))
    assert len(files) >= 3
    out = str(tmp_path / "enc")
    codecs = {"url": "zstd", "warc_ts": "delta_bitpack", "html": "zstd",
              "text": "zstd", "lang": "dict"}
    # simulate the round-1 layout for the first two units
    done_dir = os.path.join(out, "_manifests")
    os.makedirs(done_dir)
    legacy_keys = []
    for f in files[:2]:
        key = os.path.basename(f).replace(".parquet", "")
        legacy_keys.append(key)
        encode_parquet_dir(spark, [f], os.path.join(out, f"unit={key}"),
                           codecs=codecs).collect()
        with open(os.path.join(done_dir, f"{key}.json"), "w") as fh:
            _json.dump({"unit": key, "src": f}, fh)  # no 'batch' field

    r = encode_resumable(spark, web_parquet, out, codecs=codecs, units_per_job=2)
    assert r["skipped"] == 2  # legacy units stay committed, not re-encoded
    assert r["completed"] == len(files) - 2
    # no batch contains a legacy unit mixed with a new one
    with open(os.path.join(out, "_batches.json")) as fh:
        batches = _json.load(fh)["batches"]
    for b in batches:
        assert not (set(b) & set(legacy_keys)) or set(b) <= set(legacy_keys)
    # full decode over BOTH layouts returns each source row exactly once
    blocks = spark.read.parquet(os.path.join(out, "batch=*"),
                                os.path.join(out, "unit=*"))
    dec = decode_table(blocks, columns=["url", "warc_ts", "html", "text", "lang"])
    res = verify_roundtrip(spark.read.parquet(web_parquet), dec, key="url")
    assert res["total_mismatches"] == 0 and res["joined_rows"] == 20_000

    # a legacy unit that loses its marker re-encodes into batch=*/ AND its
    # stale unit=<key>/ dir is removed — still exactly-once
    os.remove(os.path.join(done_dir, f"{legacy_keys[0]}.json"))
    r2 = encode_resumable(spark, web_parquet, out, codecs=codecs)
    assert r2["completed"] == 1
    assert not os.path.exists(os.path.join(out, f"unit={legacy_keys[0]}"))
    assert len(read_unit_markers(out)) == len(files)
    blocks = spark.read.parquet(os.path.join(out, "batch=*"),
                                os.path.join(out, "unit=*"))
    dec = decode_table(blocks, columns=["url", "warc_ts", "html", "text", "lang"])
    res = verify_roundtrip(spark.read.parquet(web_parquet), dec, key="url")
    assert res["total_mismatches"] == 0 and res["joined_rows"] == 20_000


def test_snapshot_time_travel(spark, web_parquet, tmp_path):
    from nail_parquet_spark.pipeline.checkpoint import read_blocks_at, snapshots

    out = str(tmp_path / "enc")
    codecs = {"url": "zstd", "warc_ts": "delta_bitpack", "html": "zstd",
              "text": "zstd", "lang": "dict"}
    # two commits: batch 1 (2 units), then the remaining 2 units
    encode_resumable(spark, web_parquet, out, codecs=codecs, max_units=2,
                     units_per_job=2)
    encode_resumable(spark, web_parquet, out, codecs=codecs, units_per_job=2)
    snaps = snapshots(out)
    assert [s["snapshot"] for s in snaps] == [1, 2]

    full = spark.read.parquet(web_parquet)
    # snapshot 1 sees exactly the first batch's units
    units1 = set(snaps[0]["units"])
    rows1 = (
        decode_table(read_blocks_at(spark, out, 1), columns=["url"]).count()
    )
    src1 = full.withColumn("__f", F.element_at(F.split(F.input_file_name(), "/"), -1))
    n1 = src1.filter(
        F.regexp_replace("__f", r"\.parquet$", "").isin(list(units1))
    ).count()
    assert rows1 == n1 > 0
    # latest (default) sees everything, bit-identical
    dec = decode_table(read_blocks_at(spark, out),
                       columns=["url", "warc_ts", "html", "text", "lang"])
    res = verify_roundtrip(full, dec, key="url")
    assert res["total_mismatches"] == 0 and res["joined_rows"] == 20_000

    # a batch re-committed AFTER a snapshot makes that snapshot unreadable
    import glob as _glob

    victim = sorted(_glob.glob(os.path.join(out, "_manifests", "*.json")))[0]
    os.remove(victim)
    encode_resumable(spark, web_parquet, out, codecs=codecs)  # retry commit -> snap 3
    snaps = snapshots(out)
    assert snaps[-1]["snapshot"] == 3
    retried_batch = snaps[-1]["batch"]
    stale_snaps = [s["snapshot"] for s in snaps[:-1] if s["batch"] == retried_batch]
    with pytest.raises(ValueError, match="re-committed"):
        read_blocks_at(spark, out, stale_snaps[0])
    # latest still reads clean
    assert decode_table(read_blocks_at(spark, out), columns=["url"]).count() == 20_000


def test_filter_and_encode_web_pipeline(spark, web_parquet):
    import json

    from nail_parquet_spark.pipeline.web import filter_and_encode_web_pipeline

    df = spark.read.parquet(web_parquet)
    # synthetic pages are short: relax thresholds so a real split emerges
    rules = {"min_words": 30, "min_mean_word_len": 0, "min_stop_hits": 0}
    blocks, manifest, rejected = filter_and_encode_web_pipeline(
        df, rules=rules, n_partitions=4, policy="balanced",
        lineage={"job_id": "q1"})
    n_kept = (blocks.filter(F.col("column") == "url")
              .agg(F.sum("n_rows")).collect()[0][0]) or 0
    n_rej = rejected.count()
    assert n_kept + n_rej == 20_000 and 0 < n_rej < 20_000
    m = manifest.collect()
    assert all(r["job_id"] == "q1" for r in m)
    stamped = json.loads(m[0]["quality_rules"])
    assert stamped["min_words"] == 30 and stamped["max_dup_line_frac"] == 0.3
    assert {"n_words", "n_fail"} <= set(rejected.columns)
    # survivors decode bit-identical to the kept subset of the source
    dec = decode_table(blocks, columns=df.columns)
    kept_urls = {r["url"] for r in dec.select("url").collect()}
    rej_urls = {r["url"] for r in rejected.collect()}
    assert not (kept_urls & rej_urls)
    res = verify_roundtrip(df.join(dec.select("url"), "url", "left_semi"),
                           dec, key="url")
    assert res["total_mismatches"] == 0 and res["joined_rows"] == n_kept


def test_filter_pipeline_preserves_duplicate_url_cardinality(spark, web_parquet):
    """A URL re-crawled k times must contribute exactly k rows to the
    encode (left_semi gate), not k*k (the r4 inner-join bug, ADVICE r4)."""
    from nail_parquet_spark.pipeline.web import filter_and_encode_web_pipeline

    df = spark.read.parquet(web_parquet).limit(2_000)
    # re-crawl every page 3x with shifted timestamps
    dup = df.unionAll(df.withColumn("warc_ts", F.col("warc_ts") + F.expr("INTERVAL 1 HOUR"))) \
            .unionAll(df.withColumn("warc_ts", F.col("warc_ts") + F.expr("INTERVAL 2 HOUR")))
    rules = {"min_words": 30, "min_mean_word_len": 0, "min_stop_hits": 0}
    blocks, manifest, rejected = filter_and_encode_web_pipeline(
        dup, rules=rules, n_partitions=4, lineage={"job_id": "dup"})
    n_kept = (blocks.filter(F.col("column") == "url")
              .agg(F.sum("n_rows")).collect()[0][0]) or 0
    # every row of a URL passes or fails identically (verdict is per-URL),
    # so kept + rejected must tile the 3x-duplicated input exactly
    assert n_kept + rejected.count() == 3 * 2_000
    assert n_kept % 3 == 0 and rejected.count() % 3 == 0


def test_snapshot_expiry_and_orphan_gc(spark, web_parquet, tmp_path):
    """Iceberg-shaped maintenance: expireSnapshots keeps the current table
    reconstructible, tombstones make dead historical views raise, and
    removeOrphanFiles reaps only unreferenced data dirs."""
    import glob as _glob
    import json as _json

    from nail_parquet_spark.pipeline.checkpoint import (
        expire_snapshots, read_blocks_at, remove_orphan_files, snapshots)

    out = str(tmp_path / "enc")
    codecs = {"url": "zstd", "warc_ts": "delta_bitpack", "html": "zstd",
              "text": "zstd", "lang": "dict"}
    encode_resumable(spark, web_parquet, out, codecs=codecs, max_units=2,
                     units_per_job=2)
    encode_resumable(spark, web_parquet, out, codecs=codecs, units_per_job=2)

    # both snapshots are the latest of their batch: nothing can expire
    assert expire_snapshots(out, keep_last=1)["expired"] == []

    # retry batch 1 (drop one of its markers) -> snapshot 3 supersedes 1
    victim = sorted(_glob.glob(os.path.join(out, "_manifests", "*.json")))[0]
    os.remove(victim)
    encode_resumable(spark, web_parquet, out, codecs=codecs)
    assert [s["snapshot"] for s in snapshots(out)] == [1, 2, 3]

    rep = expire_snapshots(out, keep_last=1)
    assert rep["expired"] == [1]
    assert [s["snapshot"] for s in snapshots(out)] == [2, 3]
    # latest still bit-readable in full
    assert decode_table(read_blocks_at(spark, out), columns=["url"]).count() == 20_000
    # the expired id itself and any view depending on it both raise
    with pytest.raises(ValueError, match="no longer readable"):
        read_blocks_at(spark, out, 1)
    with pytest.raises(ValueError, match="no longer readable"):
        read_blocks_at(spark, out, 2)  # snap 2's view contained batch of snap 1

    # orphan GC: stray data dirs (crash debris) vs live committed ones
    os.makedirs(os.path.join(out, "batch=deadbeefcafe"))
    os.makedirs(os.path.join(out, "unit=stray"))
    dry = remove_orphan_files(out, dry_run=True)
    assert {os.path.basename(d) for d in dry["orphans"]} == {
        "batch=deadbeefcafe", "unit=stray"}
    assert os.path.exists(os.path.join(out, "batch=deadbeefcafe"))
    real = remove_orphan_files(out)
    assert real["removed"] and len(real["orphans"]) == 2
    assert not os.path.exists(os.path.join(out, "unit=stray"))
    # a grace window protects a dir a concurrent writer may be filling
    os.makedirs(os.path.join(out, "batch=inflight0000"))
    assert remove_orphan_files(out, dry_run=True, older_than_s=3600)["orphans"] == []
    remove_orphan_files(out)
    # table still intact after GC
    assert decode_table(read_blocks_at(spark, out), columns=["url"]).count() == 20_000

    # validation: bad args
    with pytest.raises(ValueError, match="keep_last"):
        expire_snapshots(out)
