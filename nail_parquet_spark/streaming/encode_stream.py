"""Streaming encode: continuously (or availableNow-incrementally) encode
newly-arriving web-page parquet files into the blocks format.

The reference has no streaming surface at all; this is the incremental
twin of the batch pipeline: each micro-batch runs the same mapInArrow
encode, appends blocks partitioned by batch, and the streaming checkpoint
gives exactly-once file-level resume — the Structured-Streaming analogue of
``pipeline.checkpoint.encode_resumable`` (there the commit gate is a marker
file; here it's the stream's write-ahead log).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def encode_stream(
    spark: SparkSession,
    src_dir: str,
    out_dir: str,
    checkpoint: str,
    schema: str,
    codecs: dict[str, str] | None = None,
    policy: str = "balanced",
    available_now: bool = True,
    max_files_per_trigger: int | None = None,
):
    """Start (and for availableNow, run to completion) a streaming encode.

    codecs are selected ONCE from the data already present (job planning,
    like the batch path) so every micro-batch encodes consistently —
    per-batch reselection would make the blocks table heterogeneous and the
    selection cost per-trigger instead of per-job.
    """
    from nail_parquet_spark.codec.encode import choose_codecs_for_df, encode_table

    if codecs is None:
        seed = spark.read.schema(schema).parquet(src_dir)
        codecs = choose_codecs_for_df(seed, seed.columns, policy=policy)

    reader = spark.readStream.schema(schema)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    stream = reader.parquet(src_dir)

    def encode_batch(batch_df: DataFrame, batch_id: int) -> None:
        blocks = encode_table(batch_df, codecs=codecs)
        # overwrite the batch-id directory: foreachBatch is at-least-once,
        # so a micro-batch replayed after a crash must replace its own
        # output, not append a second copy (this is what makes the pipeline
        # effectively exactly-once)
        (
            blocks.write.mode("overwrite")
            .parquet(f"{out_dir}/ingest_batch={batch_id}")
        )

    writer = (
        stream.writeStream.foreachBatch(encode_batch)
        .option("checkpointLocation", checkpoint)
    )
    if available_now:
        q = writer.trigger(availableNow=True).start()
        q.awaitTermination()
        return q
    return writer.start()


def decontam_stream(
    spark: SparkSession,
    src_dir: str,
    out_dir: str,
    checkpoint: str,
    schema: str,
    eval_df: DataFrame,
    id_col: str,
    text_col: str = "text",
    n: int = 13,
    min_hits: int = 1,
    min_frac: float = 0.0,
    available_now: bool = True,
    mode: str = "ngram",
    tau: float = 0.9,
    dim: int = 64,
):
    """Streaming benchmark decontamination: newly-arriving document files
    are filtered against a STATIC eval set and survivors appended under
    ``out_dir/ingest_batch=<id>/``. Three modes, mirroring the batch
    operators: ``ngram`` (drop docs by the 13-gram rule), ``scrub``
    (remove only the leaked spans — decontam.scrub_eval_spans), and
    ``semantic`` (drop by max embedding cosine >= ``tau`` —
    decontam.semantic_decontaminate).

    The per-doc verdict is an aggregation, which stream-static joins
    can't express statelessly — so each micro-batch runs the exact BATCH
    operator via foreachBatch (the encode_stream pattern above): semantics
    are bit-identical to the batch function per batch, the eval-side
    reduction (gram hashes / window hashes / embeddings) is done ONCE up
    front (not per trigger), and the batch-id overwrite keeps replays
    effectively exactly-once. Contract: every mode's verdict is
    per-document against a static eval set, so batch boundaries cannot
    change it — stream output == batch output on the same files (tested).
    """
    from pyspark.sql import functions as F

    if mode == "ngram":
        from nail_parquet_spark.functions.decontam import (_contaminated,
                                                           eval_ngram_hashes)

        # one eval-side materialization per JOB, reused every micro-batch
        ev = eval_ngram_hashes(eval_df, text_col, n).cache()
        ev.count()

        def filter_batch(batch_df: DataFrame, batch_id: int) -> None:
            bad = _contaminated(batch_df, ev, id_col, text_col, n, min_hits,
                                min_frac)
            kept = batch_df.join(bad, id_col, "left_anti")
            kept.write.mode("overwrite").parquet(
                f"{out_dir}/ingest_batch={batch_id}")
    elif mode == "scrub":
        from nail_parquet_spark.functions.dedup import (
            _remove_covered_windows, _window_positions)

        evw = _window_positions(
            eval_df.select(F.monotonically_increasing_id().alias("__eid"),
                           F.col(text_col).alias("__etxt")),
            "__eid", "__etxt", n).select("h").distinct().cache()
        evw.count()

        def filter_batch(batch_df: DataFrame, batch_id: int) -> None:
            leaked = (
                _window_positions(batch_df, id_col, text_col, n)
                .join(F.broadcast(evw), "h").select("__id", "pos")
            )
            scrubbed = _remove_covered_windows(
                batch_df, id_col, text_col, leaked, n)
            scrubbed.write.mode("overwrite").parquet(
                f"{out_dir}/ingest_batch={batch_id}")
    elif mode == "semantic":
        from nail_parquet_spark.functions.embed import hashed_ngram_embedding
        from nail_parquet_spark.functions.similarity import _norm_expr

        evv = hashed_ngram_embedding(
            eval_df.select(F.col(text_col).alias("__etext")), "__etext",
            out_col="__ev", dim=dim,
        ).filter(F.col("__ev").isNotNull()).select("__ev").distinct() \
            .withColumn("__en", _norm_expr(F.col("__ev"))).cache()
        evv.count()

        def filter_batch(batch_df: DataFrame, batch_id: int) -> None:
            from nail_parquet_spark.functions.similarity import _dot_expr

            d = hashed_ngram_embedding(
                batch_df.select(F.col(id_col), F.col(text_col)), text_col,
                out_col="__dv", dim=dim,
            ).filter(F.col("__dv").isNotNull()) \
                .withColumn("__dn", _norm_expr(F.col("__dv")))
            cos = F.round(
                _dot_expr(F.col("__dv"), F.col("__ev"))
                / (F.col("__dn") * F.col("__en")), 6)
            bad = (
                d.crossJoin(F.broadcast(evv))
                .select(F.col(id_col), cos.alias("__cos"))
                .groupBy(id_col).agg(F.max("__cos").alias("__mc"))
                .filter(F.col("__mc") >= tau).select(id_col)
            )
            kept = batch_df.join(bad, id_col, "left_anti")
            kept.write.mode("overwrite").parquet(
                f"{out_dir}/ingest_batch={batch_id}")
    else:
        raise ValueError(f"decontam_stream: unknown mode {mode!r}")

    stream = spark.readStream.schema(schema).parquet(src_dir)
    writer = (
        stream.writeStream.foreachBatch(filter_batch)
        .option("checkpointLocation", checkpoint)
    )
    if available_now:
        q = writer.trigger(availableNow=True).start()
        q.awaitTermination()
        return None
    return writer.start()


def warc_ingest_stream(
    spark: SparkSession,
    src_dir: str,
    out_dir: str,
    checkpoint: str,
    available_now: bool = True,
    max_files_per_trigger: int | None = None,
    types: tuple = ("response",),
):
    """Continuously ingest WARC segments as a crawl drops them: a
    ``binaryFile`` file stream (each NEW ``.warc[.gz]`` file is exactly
    one micro-batch input — the checkpoint's file log is the source of
    truth for what was consumed, so a restart never re-parses a segment)
    parsed by the SAME batch parser ``sources/warc.parse_warc_bytes``,
    landing (url, warc_ts, warc_type, html) parquet per batch-id dir —
    the at-least-once replay overwrites its own directory, same
    exactly-once discipline as ``encode_stream``. Feed the output to
    `encode_stream` / `curate` for the full crawl-to-corpus path."""
    from pyspark.sql.types import (BinaryType, StringType, StructField,
                                   StructType, TimestampType)

    from nail_parquet_spark.sources.warc import parse_warc_bytes

    # binaryFile's fixed schema must be stated explicitly on the stream path
    reader = (spark.readStream.format("binaryFile")
              .schema("path string, modificationTime timestamp, "
                      "length long, content binary")
              .option("pathGlobFilter", "*.warc*"))
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    stream = reader.load(src_dir).select("path", "content")

    out_schema = StructType([
        StructField("url", StringType()),
        StructField("warc_ts", TimestampType()),
        StructField("warc_type", StringType()),
        StructField("html", BinaryType()),
    ])

    def _parse(it):
        for pdf in it:
            for p, data in zip(pdf["path"], pdf["content"]):
                for batch in parse_warc_bytes(bytes(data), p.endswith(".gz"),
                                              tuple(types), 1024):
                    yield batch.to_pandas()

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        (batch_df.mapInPandas(_parse, out_schema)
         .write.mode("overwrite")
         .parquet(f"{out_dir}/ingest_batch={batch_id}"))

    writer = (stream.writeStream.foreachBatch(sink)
              .option("checkpointLocation", checkpoint))
    if available_now:
        q = writer.trigger(availableNow=True).start()
        q.awaitTermination()
        return q
    return writer.start()


def curate_stream(
    spark: SparkSession,
    src_dir: str,
    out_dir: str,
    checkpoint: str,
    schema: str,
    text_col: str = "text",
    ts_col: str = "warc_ts",
    url_col: str = "url",
    quality_rules: dict | None = None,
    do_url_quality: bool = False,
    url_quality_rules: dict | None = None,
    robots_src: str | None = None,
    robots_agent: str = "*",
    do_normalize: bool = False,
    lang_keep: list[str] | None = None,
    badwords: list[str] | None = None,
    do_quality: bool = True,
    entropy_rules: dict | None = None,
    do_c4_clean: bool = True,
    dedup_watermark: str = "24 hours",
    codecs: dict[str, str] | None = None,
    policy: str = "balanced",
    available_now: bool = True,
    max_files_per_trigger: int | None = None,
):
    """Streaming curation: the per-document curation stages + watermark-
    bounded exact dedup + incremental encode, continuously over a growing
    crawl directory — the Structured-Streaming twin of
    ``pipeline.curate.curate_and_encode_corpus`` for its streamable
    stages, in the SAME stage order (quality -> entropy gate -> C4 clean
    -> exact dedup -> encode).

    Stage semantics vs the batch pipeline:
    - the URL rule gate (``do_url_quality``) is a pure per-document
      boolean — identical verdicts to the batch ``url_quality`` stage.
    - robots.txt compliance (``robots_src``) is a per-document verdict
      against a STATIC rules table (stream-static join, parsed once) —
      same pinned longest-prefix contract as the batch stage.
    - unicode normalization (``do_normalize``, off by default like the
      batch pipeline) is a per-document stateless rewrite; docs reduced
      to '' are dropped, mirroring the batch stage's reject rule.
    - language routing (``lang_keep``) and the word blocklist
      (``badwords``) are per-document stateless filters, applied in the
      batch pipeline's stage order (lang before quality, badwords after
      the C4 clean).
    - quality filter (``gopher_keep_stream``) and C4 line cleaning are
      per-document stateless transforms — batch boundaries cannot change
      a verdict, so kept content matches the batch run on the same files.
    - exact dedup is ``stream_dedup_exact``: keep FIRST ARRIVAL of each
      cleaned-text fingerprint, state bounded by ``dedup_watermark``
      (the batch run keeps min-doc-id — same kept CONTENT set whenever
      duplicates arrive within the watermark horizon; later re-crawls
      beyond it are kept again, the documented streaming trade).
    - corpus-GLOBAL stages (near dedup, boilerplate, decontam,
      incremental-vs-prior) cannot stream; run them as periodic batch
      maintenance over the accumulated out_dir — the standard
      lambda split this module's other streams use.
    - encode: blocks append under ``ingest_batch=<id>`` with
      overwrite-on-replay (effectively exactly-once); codecs are chosen
      ONCE from the data already present, like ``encode_stream``.
    """
    from pyspark.sql import functions as F

    from nail_parquet_spark.codec.encode import (choose_codecs_for_df,
                                                 encode_table)
    from nail_parquet_spark.functions.quality import (c4_clean_text,
                                                      gopher_keep_stream)
    from nail_parquet_spark.streaming.events import stream_dedup_exact

    if codecs is None:
        seed = spark.read.schema(schema).parquet(src_dir)
        codecs = choose_codecs_for_df(seed, seed.columns, policy=policy)

    reader = spark.readStream.schema(schema)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    stream = reader.parquet(src_dir)

    if do_url_quality:
        # URL rule gate, batch-pipeline stage order (FIRST — cheapest,
        # needs no body): a pure per-document boolean expression, so the
        # streaming verdict is identical to the batch stage's on the
        # same files.
        from nail_parquet_spark.functions.urls import url_quality_keep_expr

        stream = stream.filter(
            url_quality_keep_expr(F.col(url_col), url_quality_rules))
    if robots_src:
        # robots.txt compliance, batch-pipeline stage order (first).
        # Stream-static join: the rules table is parsed ONCE driver-side
        # from the corpus at robots_src and joined against each
        # micro-batch; verdicts are per-document, so kept content matches
        # the batch stage on the same files.
        from nail_parquet_spark.functions.robots import (parse_robots,
                                                         robots_corpus,
                                                         robots_filter)

        rules = parse_robots(robots_corpus(spark, robots_src),
                             agent=robots_agent)
        stream = robots_filter(stream, rules, url_col=url_col)
    if do_normalize:
        from nail_parquet_spark.functions.normalize import normalize_text

        stream = stream.withColumn(text_col,
                                   normalize_text(F.col(text_col)))
        stream = stream.filter(
            F.coalesce(F.col(text_col), F.lit("")) != "")
    if lang_keep:
        from nail_parquet_spark.functions.text import lang_id_stream

        stream = lang_id_stream(stream, text_col, out_col="__lang_pred")
        stream = stream.filter(
            F.col("__lang_pred").isin(list(lang_keep))).drop("__lang_pred")
    if do_quality:
        stream = gopher_keep_stream(stream, text_col, quality_rules)
    if entropy_rules:
        # Shannon-entropy gate, batch-pipeline stage order (after quality,
        # before the C4 clean). Stateless all-columns mapInArrow append +
        # filter; the keep expression and the 6-decimal rounding are shared
        # with the batch stage, so verdicts match on the same files.
        from nail_parquet_spark.functions.entropy import (
            entropy_columns,
            entropy_keep_expr,
        )

        stream = (entropy_columns(stream, text_col)
                  .filter(entropy_keep_expr(entropy_rules))
                  .drop("char_entropy", "word_entropy"))
    if do_c4_clean:
        stream = stream.withColumn(
            text_col, c4_clean_text(F.coalesce(F.col(text_col), F.lit(""))))
        stream = stream.filter(F.col(text_col) != "")
    if badwords:
        from nail_parquet_spark.functions.normalize import badwords_flag

        stream = stream.filter(~badwords_flag(F.col(text_col),
                                              list(badwords)))
    stream = stream_dedup_exact(stream, key_cols=[], text_col=text_col,
                                ts_col=ts_col, watermark=dedup_watermark)

    def encode_batch(batch_df: DataFrame, batch_id: int) -> None:
        blocks = encode_table(batch_df, codecs=codecs)
        (blocks.write.mode("overwrite")
         .parquet(f"{out_dir}/ingest_batch={batch_id}"))

    writer = (stream.writeStream.foreachBatch(encode_batch)
              .option("checkpointLocation", checkpoint))
    if available_now:
        q = writer.trigger(availableNow=True).start()
        q.awaitTermination()
        return q
    return writer.start()


def near_dedup_stream(
    spark: SparkSession,
    src_dir: str,
    out_dir: str,
    checkpoint: str,
    schema: str,
    id_col: str,
    text_col: str = "text",
    threshold: float = 0.7,
    num_hashes: int = 16,
    bands: int = 4,
    shingle_k: int = 3,
    available_now: bool = True,
    max_files_per_trigger: int | None = None,
):
    """Streaming MinHash near-dedup: each micro-batch is near-deduped
    WITHIN itself (the batch operator) and then AGAINST everything already
    kept, via the accumulated signature table — so earlier batches' MinHash
    is computed exactly once, ever.

    The dedup state lives in the OUTPUT directory, not the streaming state
    store:
    - kept rows under           ``out_dir/ingest_batch=<id>/``
    - their signature table under ``out_dir/_signatures/ingest_batch=<id>/``
    Batch <id> reads only the STRICTLY EARLIER signature/kept dirs as its
    prior (so an at-least-once replay that left its own dirs behind stays
    idempotent) and overwrites its own two dirs — the same effectively-
    exactly-once discipline as ``encode_stream``. Unlike the watermarked
    exact dedup, this state never ages out: signatures are k longs + a
    16-byte fingerprint per distinct doc, small enough to keep for the
    whole corpus, and the exact Jaccard verify reads back only the prior
    docs that appear in candidate pairs (the semi-join restriction inside
    ``near_dup_against_pairs``).
    """
    import glob
    import os
    import re

    from nail_parquet_spark.functions.dedup import dedup_near_duplicates
    from nail_parquet_spark.functions.incremental import (near_dedup_against,
                                                          signatures_of)

    reader = spark.readStream.schema(schema)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    stream = reader.parquet(src_dir)

    def _earlier(pattern: str, batch_id: int) -> list[str]:
        out = []
        for p in glob.glob(pattern):
            m = re.search(r"ingest_batch=(\d+)$", p)
            if m and int(m.group(1)) < batch_id:
                out.append(p)
        return sorted(out)

    def dedup_batch(batch_df: DataFrame, batch_id: int) -> None:
        kept = dedup_near_duplicates(
            batch_df, id_col, text_col, threshold=threshold,
            num_hashes=num_hashes, bands=bands, shingle_k=shingle_k)
        sig_dirs = _earlier(os.path.join(out_dir, "_signatures",
                                         "ingest_batch=*"), batch_id)
        kept_dirs = _earlier(os.path.join(out_dir, "ingest_batch=*"),
                             batch_id)
        if sig_dirs and kept_dirs:
            prior_sigs = spark.read.parquet(*sig_dirs)
            prior = spark.read.parquet(*kept_dirs).select(text_col)
            kept = near_dedup_against(
                kept, prior, id_col, text_col, threshold=threshold,
                num_hashes=num_hashes, bands=bands, shingle_k=shingle_k,
                prior_sigs=prior_sigs)
        # materialize the kept rows BEFORE deriving their signatures so the
        # dedup joins run once, then write both state pieces atomically
        # (overwrite per batch dir)
        kept.write.mode("overwrite").parquet(
            f"{out_dir}/ingest_batch={batch_id}")
        kept_committed = spark.read.parquet(f"{out_dir}/ingest_batch={batch_id}")
        (signatures_of(kept_committed, text_col, num_hashes=num_hashes,
                       shingle_k=shingle_k)
         .write.mode("overwrite")
         .parquet(f"{out_dir}/_signatures/ingest_batch={batch_id}"))

    writer = (stream.writeStream.foreachBatch(dedup_batch)
              .option("checkpointLocation", checkpoint))
    if available_now:
        q = writer.trigger(availableNow=True).start()
        q.awaitTermination()
        return q
    return writer.start()
