"""Structured Streaming smoke: file-source stream -> watermarked hourly
rollup via availableNow, checked against the batch equivalent."""
import os

import pytest
from pyspark.sql import functions as F

from nail_parquet_spark.streaming.events import (
    run_available_now,
    stream_events_hourly,
    stream_from_directory,
)

EVENTS_SCHEMA = ("event_id long, ts timestamp, user_id long, event_type string, "
                 "value double, props string")


def test_stream_hourly_matches_batch(spark, tmp_path):
    src = str(tmp_path / "in")
    out = str(tmp_path / "out")
    ck = str(tmp_path / "ck")
    batch = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    batch.write.parquet(src)

    stream = stream_from_directory(spark, src, EVENTS_SCHEMA)
    rolled = stream_events_hourly(stream)
    run_available_now(rolled, out, ck)

    got = spark.read.parquet(out)
    want = (
        batch.groupBy(F.date_trunc("hour", "ts").alias("hour"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    # every emitted window must match the batch result exactly...
    wrong = got.select("hour", "event_type", "n").exceptAll(
        want.select("hour", "event_type", "n")
    )
    assert wrong.count() == 0
    # ...and append mode correctly HOLDS BACK only windows still inside the
    # watermark horizon (max_ts - 2h) at stream end
    max_ts = batch.agg(F.max("ts")).collect()[0][0]
    missing = want.select("hour", "event_type", "n").exceptAll(
        got.select("hour", "event_type", "n")
    )
    late = missing.filter(
        F.col("hour") < F.lit(max_ts) - F.expr("INTERVAL 3 HOURS")
    )
    assert late.count() == 0, "windows outside the watermark horizon were dropped"
    n_emitted = got.count()
    assert n_emitted > 0

    # resume idempotence: re-running with the same checkpoint adds nothing
    run_available_now(stream_events_hourly(stream_from_directory(spark, src, EVENTS_SCHEMA)), out, ck)
    assert spark.read.parquet(out).count() == n_emitted


def test_sessionize_batch(spark):
    from nail_parquet_spark.streaming.events import sessionize

    rows = [
        (1, "2024-01-01 10:00:00"), (1, "2024-01-01 10:10:00"),  # session 1
        (1, "2024-01-01 11:30:00"),                                # session 2 (80m gap)
        (2, "2024-01-01 09:00:00"),                                # user 2 session 1
    ]
    df = spark.createDataFrame(rows, "user_id long, ts string").withColumn(
        "ts", F.to_timestamp("ts")
    )
    out = {(r["user_id"], r["ts"].minute): r["session_id"]
           for r in sessionize(df, gap_minutes=30).collect()}
    assert out[(1, 0)] == 1 and out[(1, 10)] == 1 and out[(1, 30)] == 2
    assert out[(2, 0)] == 1


def test_sessionize_stateful_matches_batch(spark, tmp_path):
    from nail_parquet_spark.streaming.events import (
        sessionize,
        sessionize_stateful,
        stream_from_directory,
    )

    batch = spark.read.parquet("/root/testdata/sf0.001/events.parquet").orderBy("event_id").limit(2000)
    src = str(tmp_path / "in")
    batch.write.parquet(src)
    stream = stream_from_directory(spark, src, EVENTS_SCHEMA)
    sess = sessionize_stateful(stream, gap_minutes=5)
    q = (
        sess.writeStream.format("memory").queryName("sess_test")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .outputMode("append").trigger(availableNow=True).start()
    )
    q.awaitTermination()
    got = spark.sql("SELECT user_id, count(*) AS closed FROM sess_test GROUP BY user_id").collect()
    got_closed = {r["user_id"]: r["closed"] for r in got}
    # closed sessions per user == batch session count - 1 (tail stays open)
    want = (
        sessionize(batch, gap_minutes=5)
        .groupBy("user_id").agg(F.max("session_id").alias("n_sessions"))
        .collect()
    )
    want_closed = {r["user_id"]: r["n_sessions"] - 1 for r in want}
    want_closed = {k: v for k, v in want_closed.items() if v > 0}
    assert got_closed == want_closed
    assert sum(got_closed.values()) > 0


def test_encode_stream_incremental_resume(spark, tmp_path):
    """Streaming encode: first run encodes the available files; adding new
    files and re-running with the same checkpoint encodes ONLY the new ones
    (exactly-once file-level resume), and the union decodes bit-identically."""
    from nail_parquet_spark.codec.decode import decode_table, verify_roundtrip
    from nail_parquet_spark.streaming.encode_stream import encode_stream
    from nail_parquet_spark.synth import webpages_spark

    src = str(tmp_path / "incoming")
    out = str(tmp_path / "blocks")
    ckpt = str(tmp_path / "ckpt")
    schema = "url string, warc_ts timestamp, html binary, text string, lang string"

    first = webpages_spark(spark, 4_000, seed=1, n_parts=2)
    first.write.parquet(src)
    encode_stream(spark, src, out, ckpt, schema)
    n1 = spark.read.parquet(out).select("part_id", "block_id").distinct().count()
    assert n1 > 0

    # disjoint url space: the verify join is keyed on url
    more = webpages_spark(spark, 2_000, seed=2, n_parts=1).withColumn(
        "url", F.concat(F.lit("https://b2."), F.substring("url", 9, 10_000))
    )
    more.write.mode("append").parquet(src)
    encode_stream(spark, src, out, ckpt, schema)

    blocks = spark.read.parquet(out)
    dec = decode_table(blocks, columns=first.columns)
    both = spark.read.parquet(src)
    res = verify_roundtrip(both, dec, key="url")
    assert res["joined_rows"] == 6_000
    assert res["total_mismatches"] == 0


def test_stream_dedup_exact(spark, tmp_path):
    """Streaming exact dedup keeps one row per content fingerprint within
    the watermark; batch ground truth = distinct fingerprints."""
    import datetime as dt

    from nail_parquet_spark.streaming.events import (
        run_available_now, stream_dedup_exact, stream_from_directory,
    )

    src = str(tmp_path / "in")
    base = dt.datetime(2024, 1, 1, 12, 0, 0)
    rows = []
    for i in range(60):
        rows.append((i, base + dt.timedelta(minutes=i % 7), f"doc body {i % 20}"))
    df = spark.createDataFrame(rows, "doc_id long, ts timestamp, text string")
    df.coalesce(1).write.parquet(src)

    stream = stream_from_directory(spark, src, "doc_id long, ts timestamp, text string")
    deduped = stream_dedup_exact(stream, ts_col="ts", watermark="1 hour")
    out = str(tmp_path / "out")
    run_available_now(deduped, out, str(tmp_path / "ck"))
    got = spark.read.parquet(out)
    assert got.count() == 20  # one per distinct text
    assert got.select("text").distinct().count() == 20
    # resume with NO new data is a no-op (exactly-once)
    run_available_now(
        stream_dedup_exact(
            stream_from_directory(spark, src, "doc_id long, ts timestamp, text string"),
            ts_col="ts", watermark="1 hour"),
        out, str(tmp_path / "ck"))
    assert spark.read.parquet(out).count() == 20


def test_stream_dedup_exact_null_passthrough(spark, tmp_path):
    """NULL-text rows pass through untouched (batch dedup_exact semantics) —
    they are routed around the state store, never collapsed together."""
    import datetime as dt

    from nail_parquet_spark.streaming.events import (
        run_available_now, stream_dedup_exact, stream_from_directory,
    )

    src = str(tmp_path / "in")
    base = dt.datetime(2024, 1, 1, 12, 0, 0)
    rows = [(i, base, "same body") for i in range(5)]
    rows += [(100 + i, base, None) for i in range(4)]
    spark.createDataFrame(rows, "doc_id long, ts timestamp, text string") \
        .coalesce(1).write.parquet(src)
    stream = stream_from_directory(spark, src, "doc_id long, ts timestamp, text string")
    out = str(tmp_path / "out")
    run_available_now(stream_dedup_exact(stream, ts_col="ts"), out, str(tmp_path / "ck"))
    got = spark.read.parquet(out)
    assert got.filter(F.col("text").isNotNull()).count() == 1  # deduped
    assert got.filter(F.col("text").isNull()).count() == 4     # passed through


def test_stream_quality_filter_matches_batch(spark, tmp_path):
    """The Gopher quality filter is one stateless projection, so it runs
    unchanged on a stream; availableNow output must equal the batch filter
    on the same files."""
    from nail_parquet_spark.functions.quality import gopher_filter
    from nail_parquet_spark.streaming.events import (
        run_available_now, stream_from_directory,
    )

    src = str(tmp_path / "in")
    good = " ".join(["the quick brown fox jumps over that lazy dog and more"] * 6)
    rows = [(i, good if i % 3 == 0 else "tiny doc") for i in range(30)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    df.coalesce(2).write.parquet(src)

    stream = stream_from_directory(spark, src, "doc_id long, text string")
    verdict = gopher_filter(stream, "doc_id", "text")
    out = str(tmp_path / "out")
    run_available_now(verdict, out, str(tmp_path / "ck"))
    got = {r["doc_id"]: (r["passes"], r["n_fail"]) for r in
           spark.read.parquet(out).collect()}
    want = {r["doc_id"]: (r["passes"], r["n_fail"]) for r in
            gopher_filter(df, "doc_id", "text").collect()}
    assert got == want
    assert sum(1 for p, _ in got.values() if p) == 10


def test_stream_decontam_matches_batch(spark, tmp_path):
    """Streaming decontamination (foreachBatch over a static eval set) must
    keep exactly the docs the batch operator keeps on the same files —
    decontamination is per-document, so batch boundaries can't change
    verdicts."""
    from nail_parquet_spark.functions.decontam import decontaminate
    from nail_parquet_spark.streaming.encode_stream import decontam_stream

    src = str(tmp_path / "in")
    rows = [(1, "the quick brown fox jumps over the lazy dog"),
            (2, "what is the capital of france paris of course"),
            (3, "clean text about spark partitions and shuffles"),
            (4, "more clean text entirely unrelated to any benchmark")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    df.coalesce(2).write.parquet(src)
    ev = spark.createDataFrame([(1, "what is the capital of france")],
                               "qid long, text string").select("text")

    out = str(tmp_path / "out")
    decontam_stream(spark, src, out, str(tmp_path / "ck"),
                    "doc_id long, text string", ev, "doc_id", "text", n=3)
    got = {r["doc_id"] for r in
           spark.read.option("recursiveFileLookup", "true").parquet(out).collect()}
    want = {r["doc_id"] for r in
            decontaminate(df, ev, "doc_id", "text", n=3).collect()}
    assert got == want == {1, 3, 4}


def test_stream_decontam_frac_boundary_matches_batch(spark, tmp_path):
    """The stream flags by the same rule as the batch operator: the
    ROUNDED contamination fraction. Doc 1 has 2 of its 3 trigrams in the
    eval set (2/3 rounds up to 0.666667), so a min_frac between 2/3 and
    0.666667 removes it in both."""
    from nail_parquet_spark.functions.decontam import decontaminate
    from nail_parquet_spark.streaming.encode_stream import decontam_stream

    src = str(tmp_path / "in")
    rows = [(1, "x y z w q"), (2, "clean words about spark shuffles")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    df.coalesce(1).write.parquet(src)
    ev = spark.createDataFrame([("x y z w",)], "text string")
    out = str(tmp_path / "out")
    decontam_stream(spark, src, out, str(tmp_path / "ck"),
                    "doc_id long, text string", ev, "doc_id", "text", n=3,
                    min_frac=0.6666667)
    got = {r["doc_id"] for r in
           spark.read.option("recursiveFileLookup", "true").parquet(out).collect()}
    want = {r["doc_id"] for r in
            decontaminate(df, ev, "doc_id", "text", n=3,
                          min_frac=0.6666667).collect()}
    assert got == want == {2}


def test_warc_ingest_stream_incremental(spark, tmp_path):
    """New WARC segments are ingested exactly once: first run parses the
    first segment, a re-run with the same checkpoint after a second
    segment arrives parses ONLY the new one; the union equals the batch
    scan of both archives."""
    from pyspark.sql import functions as F

    from nail_parquet_spark.sources.warc import read_warc, write_warc
    from nail_parquet_spark.streaming.encode_stream import warc_ingest_stream
    from nail_parquet_spark.synth import webpages_spark

    crawl = tmp_path / "crawl"
    crawl.mkdir()
    seg1 = str(tmp_path / "seg1")
    write_warc(webpages_spark(spark, 300, seed=1, n_parts=1), seg1)
    import shutil

    shutil.copy(f"{seg1}/part-00000.warc.gz", crawl / "seg-001.warc.gz")

    out, ck = str(tmp_path / "ingested"), str(tmp_path / "ck")
    warc_ingest_stream(spark, str(crawl), out, ck)
    assert spark.read.parquet(out).count() == 300

    seg2 = str(tmp_path / "seg2")
    write_warc(webpages_spark(spark, 200, seed=2, n_parts=1), seg2)
    shutil.copy(f"{seg2}/part-00000.warc.gz", crawl / "seg-002.warc.gz")
    warc_ingest_stream(spark, str(crawl), out, ck)

    got = spark.read.parquet(out)
    assert got.count() == 500
    # equals the batch scan (urls overlap across seeds -> compare multiset)
    batch = read_warc(spark, str(crawl))
    a = got.groupBy("url").count()
    b = batch.groupBy("url").count().withColumnRenamed("count", "c2")
    assert a.join(b, "url").filter("count != c2").count() == 0
    assert a.count() == b.count()


def test_gopher_keep_stream_matches_filter(spark):
    """The all-columns streaming keep filter and gopher_filter share the
    rule book and signal arithmetic — kept ids must be identical, and the
    input's columns must come through untouched."""
    from nail_parquet_spark.functions.quality import (
        gopher_filter, gopher_keep_stream)
    from nail_parquet_spark.synth import webpages_spark

    df = webpages_spark(spark, 400, seed=5, n_parts=2).withColumn(
        "text", F.when(F.pmod(F.xxhash64("url"), F.lit(4)) == 0,
                       F.substring("text", 1, 25)).otherwise(F.col("text")))
    kept = gopher_keep_stream(df, "text")
    assert kept.columns == df.columns
    got = {r["url"] for r in kept.select("url").collect()}
    want = {r["url"] for r in
            df.join(gopher_filter(df, "url", "text").filter("passes")
                    .select("url"), "url", "left_semi").collect()}
    assert got == want and 0 < len(got) < 400
    with pytest.raises(ValueError):
        gopher_keep_stream(df, "text", rules={"bogus_rule": 1})


def test_curate_stream_matches_batch_stages(spark, tmp_path):
    """Streaming curation (quality -> C4 -> watermarked exact dedup ->
    incremental encode) over two file drops: resume encodes only the new
    files, and the decoded kept CONTENT equals the batch stages run on the
    union (duplicates all arrive inside the watermark here)."""
    import datetime as dt

    from nail_parquet_spark.codec.decode import decode_table
    from nail_parquet_spark.functions.dedup import dedup_exact
    from nail_parquet_spark.functions.quality import (
        c4_clean_text, gopher_keep_stream)
    from nail_parquet_spark.streaming.encode_stream import curate_stream
    from nail_parquet_spark.synth import webpages_spark

    src = str(tmp_path / "incoming")
    out = str(tmp_path / "blocks")
    ckpt = str(tmp_path / "ckpt")
    schema = "url string, warc_ts timestamp, html binary, text string, lang string"
    rules = {"min_words": 25, "min_mean_word_len": 0, "min_stop_hits": 0,
             "max_dup_line_frac": 1.0}

    def sentencify(df):
        # synthetic text has no terminal punctuation; give it sentence
        # lines so the C4 cleaner keeps prose (same as test_curate's corpus)
        return df.withColumn(
            "text", F.concat(F.regexp_replace(F.col("text"), r" (and|of) ", ".\n"),
                             F.lit(".")))

    first = sentencify(webpages_spark(spark, 1_500, seed=11, n_parts=2))
    first.write.parquet(src)
    # the synthetic corpus's event times span weeks; the watermark must
    # exceed that span or drop-2 rows (old timestamps) are dropped as late
    wm = "2400 hours"
    curate_stream(spark, src, out, ckpt, schema, quality_rules=rules,
                  dedup_watermark=wm)
    n1 = len(spark.read.option("recursiveFileLookup", "true")
             .parquet(out).select("part_id").head(1))
    assert n1 > 0

    # second drop: fresh pages + exact re-crawls of drop 1 (same text,
    # new url/ts) + junk-quality docs
    fresh = sentencify(webpages_spark(spark, 600, seed=12, n_parts=1)).withColumn(
        "url", F.concat(F.lit("https://d2."), F.substring("url", 9, 10_000)))
    dups = (first.limit(200)
            .withColumn("url", F.concat(F.lit("https://re."), F.substring("url", 9, 10_000)))
            .withColumn("warc_ts", F.col("warc_ts") + F.expr("INTERVAL 5 MINUTES")))
    junk = fresh.limit(50).withColumn(
        "text", F.substring("text", 1, 20)).withColumn(
        "url", F.concat(F.lit("https://junk."), F.col("url")))
    fresh.unionAll(dups).unionAll(junk).write.mode("append").parquet(src)
    curate_stream(spark, src, out, ckpt, schema, quality_rules=rules,
                  dedup_watermark=wm)

    blocks = spark.read.option("recursiveFileLookup", "true").parquet(out)
    dec = decode_table(blocks, columns=["url", "text"])

    # batch ground truth over the union, same stage order
    allp = spark.read.parquet(src)
    b = gopher_keep_stream(allp, "text", rules)
    b = b.withColumn("text", c4_clean_text(F.coalesce(F.col("text"), F.lit(""))))
    b = b.filter(F.col("text") != "")
    b = dedup_exact(b, "url", "text")

    got_texts = {r["text"] for r in dec.select("text").distinct().collect()}
    want_texts = {r["text"] for r in b.select("text").distinct().collect()}
    assert got_texts == want_texts
    assert dec.count() == b.count()  # one survivor per distinct content


def test_near_dedup_stream_incremental(spark, tmp_path):
    """Streaming near-dedup: within-batch near dups collapse, cross-batch
    near dups are dropped against the accumulated signature table, and a
    checkpointed resume with no new files changes nothing."""
    import datetime as dt

    from nail_parquet_spark.streaming.encode_stream import near_dedup_stream

    base1 = ("the quick brown fox jumps over the lazy dog while rain "
             "falls softly on the quiet village roofs tonight") * 2
    base2 = ("distributed query engines shuffle partitions across the "
             "cluster and spill gracefully when memory runs short") * 2
    base3 = "completely unrelated prose about alpine meadows and goats " * 4
    fresh = "novel second drop content about parquet footers and codecs " * 4
    ts = dt.datetime(2024, 3, 1)
    sch = "doc_id long, ts timestamp, text string"
    src = str(tmp_path / "in")
    out = str(tmp_path / "out")
    ck = str(tmp_path / "ck")

    drop1 = [(1, ts, base1), (2, ts, base2), (3, ts, base3),
             (4, ts, base1 + " extra tail")]  # within-batch near dup of 1
    spark.createDataFrame(drop1, sch).coalesce(1).write.parquet(src)
    near_dedup_stream(spark, src, out, ck, sch, "doc_id", "text",
                      threshold=0.6, num_hashes=8, bands=4)
    kept1 = sorted(r["doc_id"] for r in spark.read.parquet(out).collect())
    assert kept1 == [1, 2, 3]

    drop2 = [(10, ts, base2 + " tiny coda"),  # cross-batch near dup of 2
             (11, ts, fresh),
             (12, ts, base3 + " same batch twin"),  # near dup of 3 (cross)
             (13, ts, fresh + " appended words")]  # near dup of 11 (within)
    spark.createDataFrame(drop2, sch).coalesce(1).write.mode(
        "append").parquet(src)
    near_dedup_stream(spark, src, out, ck, sch, "doc_id", "text",
                      threshold=0.6, num_hashes=8, bands=4)
    kept_all = sorted(r["doc_id"] for r in spark.read.parquet(out).collect())
    assert kept_all == [1, 2, 3, 11]

    # the signature state grew batch by batch and is fingerprint-keyed
    sigs = spark.read.parquet(os.path.join(out, "_signatures"))
    assert sigs.count() == 4 and "fp" in sigs.columns

    # resume with nothing new: no-op
    near_dedup_stream(spark, src, out, ck, sch, "doc_id", "text",
                      threshold=0.6, num_hashes=8, bands=4)
    assert sorted(r["doc_id"] for r in
                  spark.read.parquet(out).collect()) == [1, 2, 3, 11]


def test_curate_stream_normalize_parity(spark, tmp_path):
    """do_normalize in the streaming pipeline mirrors the batch stage:
    typography variants collapse to one kept survivor, invisible-only
    pages are dropped, and the kept content equals the batch model."""
    import datetime as dt

    from nail_parquet_spark.codec.decode import decode_table
    from nail_parquet_spark.functions.dedup import dedup_exact
    from nail_parquet_spark.functions.normalize import normalize_text
    from nail_parquet_spark.streaming.encode_stream import curate_stream

    src = str(tmp_path / "in")
    out = str(tmp_path / "blocks")
    ckpt = str(tmp_path / "ckpt")
    schema = "url string, warc_ts timestamp, text string"
    ts = dt.datetime(2024, 1, 1)
    rows = [
        ("https://a.example/1", ts, 'He said "hello" - fine words here.'),
        ("https://b.example/2", ts, "He said “hello” – fine  words here."),
        ("https://c.example/3", ts, "​  ­ "),
        ("https://d.example/4", ts, "a different page entirely."),
    ]
    spark.createDataFrame(rows, schema).write.parquet(src)
    curate_stream(spark, src, out, ckpt, schema, do_normalize=True,
                  do_quality=False, do_c4_clean=False,
                  dedup_watermark="2400 hours")

    blocks = spark.read.option("recursiveFileLookup", "true").parquet(out)
    dec = decode_table(blocks, columns=["url", "text"])

    b = spark.createDataFrame(rows, schema).withColumn(
        "text", normalize_text(F.col("text")))
    b = b.filter(F.coalesce(F.col("text"), F.lit("")) != "")
    b = dedup_exact(b, "url", "text")
    got = {r["text"] for r in dec.collect()}
    want = {r["text"] for r in b.collect()}
    assert got == want and dec.count() == b.count() == 2


def test_curate_stream_lang_badwords_parity(spark, tmp_path):
    """Streaming lang routing + badwords gates match the batch model's
    kept content on the same files (stage order: lang before quality,
    badwords after the C4 clean)."""
    import datetime as dt

    from nail_parquet_spark.codec.decode import decode_table
    from nail_parquet_spark.functions.normalize import badwords_flag
    from nail_parquet_spark.functions.text import lang_id_stream
    from nail_parquet_spark.streaming.encode_stream import curate_stream

    src = str(tmp_path / "in")
    out = str(tmp_path / "blocks")
    ckpt = str(tmp_path / "ckpt")
    schema = "url string, warc_ts timestamp, text string"
    ts = dt.datetime(2024, 1, 1)
    rows = [
        ("https://en.example/1", ts, "the cat and the dog is in the house"),
        ("https://de.example/2", ts, "der hund und die katze ist in das haus"),
        ("https://sp.example/3", ts, "the cat and the dog spamword is here"),
        ("https://en.example/4", ts, "the end of the story is the best"),
    ]
    spark.createDataFrame(rows, schema).write.parquet(src)
    curate_stream(spark, src, out, ckpt, schema, lang_keep=["en"],
                  badwords=["spamword"], do_quality=False,
                  do_c4_clean=False, dedup_watermark="2400 hours")
    blocks = spark.read.option("recursiveFileLookup", "true").parquet(out)
    dec = decode_table(blocks, columns=["url", "text"])

    b = lang_id_stream(spark.createDataFrame(rows, schema), "text")
    b = b.filter(F.col("lang_pred") == "en").drop("lang_pred")
    b = b.filter(~badwords_flag(F.col("text"), ["spamword"]))
    assert ({r["url"] for r in dec.collect()}
            == {r["url"] for r in b.collect()}
            == {"https://en.example/1", "https://en.example/4"})


def test_stream_decontam_scrub_matches_batch(spark, tmp_path):
    """decontam_stream(mode='scrub') rebuilds the same scrubbed text the
    batch scrub_eval_spans produces on the same files."""
    from nail_parquet_spark.functions.decontam import scrub_eval_spans
    from nail_parquet_spark.streaming.encode_stream import decontam_stream

    src = str(tmp_path / "in_scrub")
    rows = [(1, "intro words then a b c d closing remark"),
            (2, "fully clean nothing shared with the benchmark"),
            (3, "a b c d")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    df.coalesce(2).write.parquet(src)
    ev = spark.createDataFrame([(1, "quiz a b c d answer")],
                               "qid long, text string").select("text")

    out = str(tmp_path / "out_scrub")
    decontam_stream(spark, src, out, str(tmp_path / "ck_scrub"),
                    "doc_id long, text string", ev, "doc_id", "text", n=4,
                    mode="scrub")
    got = {r["doc_id"]: r["text"] for r in
           spark.read.option("recursiveFileLookup", "true").parquet(out).collect()}
    want = {r["doc_id"]: r["text"] for r in
            scrub_eval_spans(df, ev, "doc_id", "text", w=4).collect()}
    assert got == want
    assert got[1] == "intro words then closing remark" and got[3] == ""


def test_stream_decontam_semantic_matches_batch(spark, tmp_path):
    """decontam_stream(mode='semantic') drops exactly the docs the batch
    semantic_decontaminate drops on the same files."""
    from nail_parquet_spark.functions.decontam import semantic_decontaminate
    from nail_parquet_spark.streaming.encode_stream import decontam_stream

    src = str(tmp_path / "in_sem")
    rows = [(1, "alpha beta gamma delta"),
            (2, "delta gamma beta alpha"),
            (3, "entirely different content here"),
            (4, None)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    df.coalesce(2).write.parquet(src)
    ev = spark.createDataFrame([(1, "alpha beta gamma delta")],
                               "qid long, text string").select("text")

    out = str(tmp_path / "out_sem")
    decontam_stream(spark, src, out, str(tmp_path / "ck_sem"),
                    "doc_id long, text string", ev, "doc_id", "text",
                    mode="semantic", tau=0.9, dim=16)
    got = {r["doc_id"] for r in
           spark.read.option("recursiveFileLookup", "true").parquet(out).collect()}
    want = {r["doc_id"] for r in semantic_decontaminate(
        df, ev, "doc_id", "text", tau=0.9, dim=16).collect()}
    assert got == want == {3, 4}


def test_stream_decontam_rejects_unknown_mode(spark, tmp_path):
    import pytest as _pytest

    from nail_parquet_spark.streaming.encode_stream import decontam_stream

    ev = spark.createDataFrame([(1, "x")], "qid long, text string")
    with _pytest.raises(ValueError):
        decontam_stream(spark, str(tmp_path), str(tmp_path / "o"),
                        str(tmp_path / "c"), "doc_id long, text string",
                        ev, "doc_id", "text", mode="nope")


def test_curate_stream_entropy_parity(spark, tmp_path):
    """The streaming entropy gate matches the batch model's verdicts on
    the same files (shared keep expression + rounding), keeps NULL-text
    rows like the batch stage, and drops the compressibility extremes."""
    import datetime as dt

    from nail_parquet_spark.codec.decode import decode_table
    from nail_parquet_spark.functions.entropy import (
        entropy_columns, entropy_keep_expr)
    from nail_parquet_spark.streaming.encode_stream import curate_stream

    src = str(tmp_path / "in")
    out = str(tmp_path / "blocks")
    ckpt = str(tmp_path / "ckpt")
    schema = "url string, warc_ts timestamp, text string"
    ts = dt.datetime(2024, 1, 1)
    rows = [
        ("https://a.example/1", ts, "x" * 200),                    # char flood
        ("https://b.example/2", ts, "spam " * 50),                 # 1-word loop
        ("https://c.example/3", ts,
         "a rich page with many distinct interesting words in every line"),
        ("https://d.example/4", ts, None),                          # NULL kept
    ]
    rules = {"min_char_entropy": 1.0, "min_word_entropy": 2.0}
    spark.createDataFrame(rows, schema).write.parquet(src)
    curate_stream(spark, src, out, ckpt, schema, do_quality=False,
                  do_c4_clean=False, entropy_rules=rules,
                  dedup_watermark="2400 hours")

    blocks = spark.read.option("recursiveFileLookup", "true").parquet(out)
    dec = decode_table(blocks, columns=["url"])
    got = {r["url"] for r in dec.collect()}

    b = entropy_columns(spark.createDataFrame(rows, schema), "text")
    b = b.filter(entropy_keep_expr(rules))
    want = {r["url"] for r in b.collect()}
    assert got == want
    assert "https://c.example/3" in got and "https://d.example/4" in got
    assert "https://a.example/1" not in got and "https://b.example/2" not in got


def test_curate_stream_robots_stage(spark, tmp_path):
    """robots_src in curate_stream: the stream-static rules join drops the
    same documents the batch robots_filter drops on the same files."""
    from nail_parquet_spark.codec.decode import decode_table
    from nail_parquet_spark.functions.robots import parse_robots, robots_filter
    from nail_parquet_spark.streaming.encode_stream import curate_stream
    from nail_parquet_spark.synth import webpages_spark

    src = str(tmp_path / "incoming")
    out = str(tmp_path / "blocks")
    ckpt = str(tmp_path / "ckpt")
    schema = "url string, warc_ts timestamp, html binary, text string, lang string"
    pages = webpages_spark(spark, 800, seed=21, n_parts=2)
    pages.write.parquet(src)
    robots = str(tmp_path / "robots")
    spark.createDataFrame(
        [(f"www.host{i}.example.com", "User-agent: *\nDisallow: /page/\n")
         for i in range(4)],
        "host string, robots_txt string").write.parquet(robots)
    curate_stream(spark, src, out, ckpt, schema, robots_src=robots,
                  do_quality=False, do_c4_clean=False,
                  dedup_watermark="2400 hours")
    blocks = spark.read.option("recursiveFileLookup", "true").parquet(out)
    # the stream also runs its always-on exact-dedup stage, so compare the
    # kept TEXT set (dedup collapses identical texts, robots does not)
    dec = decode_table(blocks, columns=["text"]).distinct()
    rules = parse_robots(spark.read.parquet(robots))
    want = robots_filter(spark.read.parquet(src), rules) \
        .select("text").distinct()
    assert want.count() < pages.select("text").distinct().count()
    assert dec.count() == want.count()
    assert dec.subtract(want).count() == 0 and want.subtract(dec).count() == 0


def test_curate_stream_url_quality_stage(spark, tmp_path):
    """The streaming URL gate is a pure per-document boolean: kept content
    equals the batch url_quality verdict on the same files."""
    from nail_parquet_spark.codec.decode import decode_table
    from nail_parquet_spark.functions.urls import url_quality_keep_expr
    from nail_parquet_spark.streaming.encode_stream import curate_stream
    from nail_parquet_spark.synth import webpages_spark

    src = str(tmp_path / "incoming")
    out = str(tmp_path / "blocks")
    ckpt = str(tmp_path / "ckpt")
    schema = "url string, warc_ts timestamp, html binary, text string, lang string"
    pages = webpages_spark(spark, 800, seed=21, n_parts=2)
    bucket = F.pmod(F.xxhash64("url"), F.lit(8))
    poisoned = pages.withColumn(
        "url", F.when(bucket == 0, F.concat("url", F.lit("/asset.css")))
        .otherwise(F.col("url")))
    poisoned.write.parquet(src)
    curate_stream(spark, src, out, ckpt, schema, do_url_quality=True,
                  do_quality=False, do_c4_clean=False,
                  dedup_watermark="2400 hours")
    blocks = spark.read.option("recursiveFileLookup", "true").parquet(out)
    dec = decode_table(blocks, columns=["url", "text"])
    rows = dec.collect()
    # the remaining streaming stage is exact text dedup (keep one per
    # distinct text) — compare kept CONTENT, the stage's contract
    got = sorted({r.text for r in rows})
    allp = spark.read.parquet(src)
    kept = allp.filter(url_quality_keep_expr(F.col("url")))
    want = sorted({r.text for r in kept.select("text").collect()})
    assert got == want
    assert not any(r.url.endswith(".css") for r in rows)
    assert len(rows) < poisoned.count()
