"""Inspect surface over encoded blocks — the distributed analogue of
`nail metadata` (/root/reference/src/commands/metadata.rs:45-401) and
`nail size` (/root/reference/src/commands/size.rs:23-190).

Where the reference dumps a parquet footer, these are plain DataFrame
aggregations over the blocks table, so they scale with the data and stay
queryable.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def metadata_summary(blocks: DataFrame) -> DataFrame:
    """Per-column rollup: blocks, rows, bytes, ratio, codecs, null/distinct.

    Parity: per-column chunk report of `nail metadata --column-chunks`
    (metadata.rs:217-273) + encoding-usage aggregate (metadata.rs:318-357).
    """
    return (
        blocks.groupBy("column")
        .agg(
            F.count("*").alias("n_blocks"),
            F.sum("n_rows").alias("n_values"),
            F.sum("raw_bytes").alias("raw_bytes"),
            F.sum("enc_bytes").alias("enc_bytes"),
            F.round(F.sum("raw_bytes") / F.sum("enc_bytes"), 4).alias("ratio"),
            F.array_sort(F.collect_set("codec")).alias("codecs"),
            F.sum("null_count").alias("null_count"),
            F.max("distinct_est").alias("max_block_distinct"),
            F.min("min_val").alias("min_val"),
            F.max("max_val").alias("max_val"),
        )
        .orderBy("column")
    )


def size_summary(blocks: DataFrame) -> DataFrame:
    """Table-level totals (nail size parity, exact instead of heuristic).

    ``bloom_bytes`` reports the opt-in equality-index overhead separately:
    blooms are droppable metadata (pruning falls back to zone maps), so
    they stay out of enc_bytes/ratio — the codec's job — and are surfaced
    here so the trade is visible."""
    aggs = [
        F.countDistinct("part_id", "block_id").alias("n_blocks"),
        F.sum("raw_bytes").alias("raw_bytes"),
        F.sum("enc_bytes").alias("enc_bytes"),
        F.round(F.sum("raw_bytes") / F.sum("enc_bytes"), 4).alias("ratio"),
    ]
    if "bloom" in blocks.columns:
        aggs.append(F.coalesce(F.sum(F.length("bloom")), F.lit(0)).alias("bloom_bytes"))
    return blocks.agg(*aggs)


def encoding_usage(blocks: DataFrame) -> DataFrame:
    """% of blocks per (column, codec) — metadata.rs:318-357 parity."""
    from pyspark.sql import Window

    w = Window.partitionBy("column")
    return (
        blocks.groupBy("column", "codec")
        .agg(F.count("*").alias("n_blocks"), F.sum("enc_bytes").alias("enc_bytes"))
        .withColumn("pct_blocks", F.round(100 * F.col("n_blocks") / F.sum("n_blocks").over(w), 2))
        .orderBy("column", "codec")
    )


def distinct_pushdown(blocks: DataFrame, column: str,
                      dict_only: bool = False) -> DataFrame:
    """Exact ``SELECT DISTINCT column`` over an encoded blocks table that
    reads per-block DICTIONARIES instead of decoding code streams wherever
    the codec allows — the columnar-engine answer to "what languages /
    sources / hosts are in this corpus" (the reference's distinct-values
    report, /root/reference/src/utils/stats.rs, needs a full column scan).

    Fast path (dictionary sections only, code streams never unpacked):

    - str/bin ``dict`` / ``rle`` blocks: the Arrow dictionary holds exactly
      the observed non-null values (nulls never enter it), so the block's
      distinct set IS the dictionary — decompress ``dict_data``, skip
      ``codes`` entirely;
    - int/float ``dict`` blocks with ``null_count == 0``: same, from the
      ``dict`` section. (With nulls present these dictionaries contain the
      encoder's null-fill value, which may be spurious → full decode.)

    Every other codec decodes that block and uniquifies it locally — still
    exact, and only per-block DISTINCT sets ever shuffle (bounded by block
    cardinality, not rows). NULL membership comes from header null_count
    metadata. ``dict_only=True`` turns the fallback into a ValueError, so
    callers can assert the cheap path served every block.

    Scale shape: one narrow scan of the column's blocks, a mapInArrow
    projection emitting <= distinct-per-block rows, one tiny distinct
    Exchange. No global decode, no full-width rows anywhere.
    """
    import pyarrow as pa
    import pyarrow.compute as pc

    from nail_parquet_spark.codec.blockindex import BlockIndex
    from nail_parquet_spark.codec.decode import _spark_ddl_of
    from nail_parquet_spark.codec.kernels import _type_from_str

    # ONE metadata read serves headers, xref refs, AND the per-codec
    # eligibility facts
    idx = BlockIndex.load(blocks, stats=False)
    headers, refs, codec_meta = idx.headers, idx.refs, idx.codecs
    if column not in headers:
        raise ValueError(f"column {column!r} not in the blocks table")
    typ = _type_from_str(headers[column]["type"])
    out_schema = pa.schema([(column, typ)])
    mine = blocks.filter(F.col("column") == column)

    # metadata pre-check: xref blocks decode against a sibling column, so
    # any xref presence routes the whole column through the grouped
    # decoder (exact, just not dictionary-served)
    codecs = sorted(codec_meta.get(column, {}))
    if any(c.startswith("xref") for c in codecs):
        if dict_only:
            raise ValueError(
                f"column {column!r} has xref-encoded blocks; distinct "
                "requires decoding against the reference column"
            )
        from nail_parquet_spark.codec.decode import decode_table

        return decode_table(blocks, [column],
                            headers=headers, refs=refs).distinct()

    if dict_only:
        # the guarantee is checked driver-side from the index's per-codec
        # metadata and raises before any decode work is planned
        kind = headers[column]["kind"]
        if kind in ("str", "bin"):
            bad = [(c, m["max_null"]) for c, m in codec_meta[column].items()
                   if c not in ("dict", "rle")]
        elif kind in ("int", "float"):
            bad = [(c, m["max_null"]) for c, m in codec_meta[column].items()
                   if c != "dict" or m["max_null"] > 0]
        else:
            bad = [(c, m["max_null"])
                   for c, m in codec_meta[column].items()]
        if bad:
            bc, bn = sorted(bad)[0]
            raise ValueError(
                f"column {column!r} has a {bc!r} block (kind "
                f"{kind}, null_count={bn}): distinct not "
                "servable from dictionary sections alone"
            )

    typ_str = headers[column]["type"]

    def per_block(batches):
        import numpy as np

        from nail_parquet_spark.codec.kernels import (EncodedBlock,
                                                      _restore_int_array,
                                                      _restore_strbin_array,
                                                      _type_from_str,
                                                      decode_array,
                                                      zstd_decompress,
                                                      unpack_bits)

        typ_l = _type_from_str(typ_str)
        for b in batches:
            hdr_col = b.column(b.schema.get_field_index("header"))
            pl_col = b.column(b.schema.get_field_index("payload"))
            outs: list[pa.Array] = []
            for i in range(b.num_rows):
                blk = EncodedBlock.from_parts(hdr_col[i].as_py(),
                                              pl_col[i].as_py())
                h = blk.header
                codec, kind, p = h["codec"], h["kind"], h.get("params", {})
                has_null = h.get("null_count", 0) > 0
                if kind in ("str", "bin") and codec in ("dict", "rle"):
                    dlens = unpack_bits(blk.section("dict_lens"),
                                        p["n_dict"],
                                        p["dict_len_width"]).astype(np.int64)
                    doff = np.concatenate(
                        ([0], np.cumsum(dlens))).astype(np.int64)
                    ddata = zstd_decompress(blk.section("dict_data"),
                                            p["dict_raw_len"])
                    arr = _restore_strbin_array(doff, ddata, None, typ_l)
                elif kind == "int" and codec == "dict" and not has_null:
                    uniq = np.frombuffer(
                        zstd_decompress(blk.section("dict"),
                                        p["dict_raw_len"]), dtype=np.int64)
                    arr = _restore_int_array(uniq.copy(), None, typ_l)
                elif kind == "float" and codec == "dict" and not has_null:
                    dtype = np.dtype(p["dtype"])
                    ddt = (np.dtype(f"u{dtype.itemsize}")
                           if p.get("bitdict") else dtype)
                    uniq = np.frombuffer(
                        zstd_decompress(blk.section("dict"),
                                        p["dict_raw_len"]), dtype=ddt)
                    arr = pa.array(uniq.view(dtype), type=typ_l)
                else:
                    if dict_only:
                        raise ValueError(
                            f"column {column!r} block uses codec {codec!r}"
                            f" (kind {kind}, nulls={has_null}): distinct "
                            "not servable from dictionary sections alone"
                        )
                    arr = pc.unique(decode_array(blk))
                    has_null = False  # unique() already kept any null
                if arr.type != typ_l:
                    arr = arr.cast(typ_l)
                outs.append(arr)
                if has_null:
                    outs.append(pa.nulls(1, typ_l))
            merged = (pc.unique(pa.concat_arrays(outs)) if outs
                      else pa.nulls(0, typ_l))
            yield pa.record_batch([merged], schema=out_schema)

    return (mine.select("header", "payload")
            .mapInArrow(per_block, schema=_spark_ddl_of(out_schema))
            .distinct())


def frequency_pushdown(blocks: DataFrame, column: str,
                       dict_only: bool = False) -> DataFrame:
    """Exact ``SELECT column, COUNT(*) GROUP BY column`` over an encoded
    blocks table — the encoded-native twin of the `frequency` operator
    (reference: /root/reference/src/commands/frequency.rs) that never
    materializes the column's values beyond each block's dictionary:

    - ``dict`` blocks: histogram the bit-packed CODES (``np.bincount`` over
      4-byte ints) and pair counts with dictionary entries;
    - ``rle`` blocks: sum run LENGTHS per run value — the histogram costs
      O(#runs), the codes are never even expanded;
    - the encoder null-fills before coding, so null rows land on one known
      slot (code 0 for strings, value 0 for numerics) — header null_count
      subtracts them back out and reports the NULL group exactly;
    - any other codec decodes that block and value-counts it locally
      (still exact; ``dict_only=True`` raises instead, checked driver-side
      from block metadata before any work is planned).

    Returns (value <column type>, n bigint), one row per distinct value
    incl. the NULL group — ANSI GROUP BY semantics. Scale shape: per-block
    histograms bounded by block cardinality are the only shuffled rows;
    one tiny partial-agg Exchange merges them.
    """
    import pyarrow as pa
    import pyarrow.compute as pc

    from nail_parquet_spark.codec.blockindex import BlockIndex
    from nail_parquet_spark.codec.decode import _spark_ddl_of
    from nail_parquet_spark.codec.kernels import _type_from_str

    # ONE metadata read serves headers, xref refs, and the codec set
    idx = BlockIndex.load(blocks, stats=False)
    headers, refs, codec_meta = idx.headers, idx.refs, idx.codecs
    if column not in headers:
        raise ValueError(f"column {column!r} not in the blocks table")
    typ = _type_from_str(headers[column]["type"])
    out_schema = pa.schema([("value", typ), ("n", pa.int64())])
    mine = blocks.filter(F.col("column") == column)
    kind = headers[column]["kind"]

    codecs = sorted(codec_meta.get(column, {}))
    if any(c.startswith("xref") for c in codecs):
        if dict_only:
            raise ValueError(
                f"column {column!r} has xref-encoded blocks; frequency "
                "requires decoding against the reference column"
            )
        from nail_parquet_spark.codec.decode import decode_table

        return (decode_table(blocks, [column], headers=headers, refs=refs)
                .groupBy(F.col(column).alias("value"))
                .agg(F.count(F.lit(1)).alias("n")))

    if dict_only:
        servable = (("dict", "rle") if kind in ("str", "bin", "int")
                    else ("dict",))
        bad_codecs = [c for c in codecs if c not in servable]
        if bad_codecs:
            raise ValueError(
                f"column {column!r} has a {bad_codecs[0]!r} block (kind "
                f"{kind}): frequency not servable from codes/runs alone"
            )

    typ_str = headers[column]["type"]

    def per_block(batches):
        import numpy as np

        from nail_parquet_spark.codec.kernels import (EncodedBlock, _build,
                                                      _dec_int_for,
                                                      _dec_int_rle,
                                                      _restore_int_array,
                                                      _restore_strbin_array,
                                                      _type_from_str,
                                                      decode_array,
                                                      unpack_bits,
                                                      zstd_decompress)

        typ_l = _type_from_str(typ_str)

        def emit(vals_arr: pa.Array, counts: np.ndarray,
                 n_null: int) -> tuple[pa.Array, pa.Array]:
            keep = counts > 0
            vals_arr = vals_arr.filter(pa.array(keep)) if not keep.all() \
                else vals_arr
            cnts = counts[keep]
            if n_null > 0:
                vals_arr = pa.concat_arrays(
                    [vals_arr.cast(typ_l), pa.nulls(1, typ_l)])
                cnts = np.concatenate([cnts, [n_null]])
            return vals_arr, cnts

        for b in batches:
            hdr_col = b.column(b.schema.get_field_index("header"))
            pl_col = b.column(b.schema.get_field_index("payload"))
            v_out: list[pa.Array] = []
            c_out: list[np.ndarray] = []
            for i in range(b.num_rows):
                blk = EncodedBlock.from_parts(hdr_col[i].as_py(),
                                              pl_col[i].as_py())
                h = blk.header
                codec, p = h["codec"], h.get("params", {})
                n, nnull = h["n"], h.get("null_count", 0)
                k = h["kind"]
                if k in ("str", "bin") and codec in ("dict", "rle"):
                    nd = p["n_dict"]
                    counts = np.zeros(nd, dtype=np.int64)
                    if nd:
                        if codec == "dict":
                            codes = unpack_bits(blk.section("codes"), n,
                                                p["width"]).astype(np.int64)
                            counts = np.bincount(codes, minlength=nd)
                        else:
                            rp = p["rle"]
                            sub = _build({"params": rp["vals"]}, [
                                ("packed", blk.section("rle_run_vals"))])
                            run_vals = _dec_int_for(sub, rp["n_runs"])
                            run_lens = unpack_bits(
                                blk.section("rle_run_lens"), rp["n_runs"],
                                rp["len_width"]).astype(np.int64)
                            np.add.at(counts, run_vals, run_lens)
                        counts[0] -= nnull  # encoder fill_null(0) codes
                    dlens = unpack_bits(blk.section("dict_lens"), nd,
                                        p["dict_len_width"]).astype(np.int64)
                    doff = np.concatenate(
                        ([0], np.cumsum(dlens))).astype(np.int64)
                    ddata = zstd_decompress(blk.section("dict_data"),
                                            p["dict_raw_len"])
                    va = _restore_strbin_array(doff, ddata, None, typ_l)
                    va, cn = emit(va, counts, nnull)
                elif k == "int" and codec in ("dict", "rle"):
                    if codec == "dict":
                        uniq = np.frombuffer(
                            zstd_decompress(blk.section("dict"),
                                            p["dict_raw_len"]),
                            dtype=np.int64)
                        codes = unpack_bits(blk.section("codes"), n,
                                            p["width"]).astype(np.int64)
                        counts = (np.bincount(codes, minlength=len(uniq))
                                  if len(uniq) else np.zeros(0, np.int64))
                    else:
                        nr = p["n_runs"]
                        sub = _build({"params": p["vals"]}, [
                            ("packed", blk.section("run_vals"))])
                        rv = _dec_int_for(sub, nr)
                        rl = unpack_bits(blk.section("run_lens"), nr,
                                         p["len_width"]).astype(np.int64)
                        uniq, inv = np.unique(rv, return_inverse=True)
                        counts = np.zeros(len(uniq), dtype=np.int64)
                        np.add.at(counts, inv, rl)
                    if nnull and len(uniq):
                        z = np.searchsorted(uniq, 0)  # fill_null(0) values
                        if z < len(uniq) and uniq[z] == 0:
                            counts = counts.copy()
                            counts[z] -= nnull
                    va = _restore_int_array(uniq.copy(), None, typ_l)
                    va, cn = emit(va, counts, nnull)
                elif k == "float" and codec == "dict":
                    dtype = np.dtype(p["dtype"])
                    ddt = (np.dtype(f"u{dtype.itemsize}")
                           if p.get("bitdict") else dtype)
                    uniq = np.frombuffer(
                        zstd_decompress(blk.section("dict"),
                                        p["dict_raw_len"]), dtype=ddt)
                    codes = unpack_bits(blk.section("codes"), n,
                                        p["width"]).astype(np.int64)
                    counts = (np.bincount(codes, minlength=len(uniq))
                              if len(uniq) else np.zeros(0, np.int64))
                    if nnull and len(uniq):
                        fill = (np.zeros(1, dtype).view(ddt)[0]
                                if p.get("bitdict") else dtype.type(0.0))
                        z = np.flatnonzero(uniq == fill)
                        if z.size:
                            counts = counts.copy()
                            counts[z[0]] -= nnull
                    va = pa.array(uniq.view(dtype), type=typ_l)
                    va, cn = emit(va, counts, nnull)
                else:
                    arr = decode_array(blk)
                    n_null_b = arr.null_count
                    vc = pc.value_counts(arr.drop_null())
                    va, cn = emit(vc.field("values"),
                                  np.asarray(vc.field("counts")), n_null_b)
                v_out.append(va.cast(typ_l) if va.type != typ_l else va)
                c_out.append(np.asarray(cn, dtype=np.int64))
            vals = (pa.concat_arrays(v_out) if v_out
                    else pa.nulls(0, typ_l))
            cnts = (np.concatenate(c_out) if c_out
                    else np.zeros(0, np.int64))
            yield pa.record_batch(
                [vals, pa.array(cnts, pa.int64())], schema=out_schema)

    return (mine.select("header", "payload")
            .mapInArrow(per_block, schema=_spark_ddl_of(out_schema))
            .groupBy("value").agg(F.sum("n").alias("n")))


def count_where_pushdown(blocks: DataFrame, column: str, op: str, value=None,
                         max_groups: int = 100_000,
                         pre_grouped: bool = False) -> dict:
    """Exact ``SELECT COUNT(*) WHERE column op value`` over an encoded
    blocks table, answered from zone-map metadata for every block the
    stats can DECIDE and decoding only the undecidable boundary blocks —
    the min-max-index count optimization (a sorted column's range count
    touches O(boundary) blocks, not O(data)).

    Per block, from one metadata read (:class:`codec.blockindex.BlockIndex`;
    the classification and its safety rules are
    :func:`codec.zonemap.block_class`' — a stat or literal that cannot be
    trusted never decides):

    - provably NO row matches → contributes 0;
    - provably EVERY non-null row matches (e.g. ``>= v`` with block
      min >= v; constant blocks for ``=``/``in``) → contributes
      ``n_rows - null_count``, payload never read;
    - anything else is a boundary block: ONLY the predicate column of
      those groups decodes (xref references resolve via the group
      decoder), the exact residual predicate counts rows, and block
      identity comes from decode positions so metadata-counted groups can
      never double-count.

    ``isnull`` / ``notnull`` answer 100% from null counters — no decode,
    ever. NULL rows never match value predicates (ANSI). Over
    ``max_groups`` block groups the index holds no per-block rows: the
    same per-block rule then runs inside tasks over the metadata rows, and
    if the boundary set also exceeds ``max_groups`` the whole count falls
    back to one full predicate-column decode — never wrong, only
    unpruned.

    Returns ``{"count", "groups_total", "groups_metadata",
    "groups_decoded"}`` so callers (and benchmarks) can see how much the
    index actually decided.
    """
    from nail_parquet_spark.codec import zonemap
    from nail_parquet_spark.codec.blockindex import BlockIndex
    from nail_parquet_spark.codec.decode import (_keep_pairs, _pred_expr,
                                                 decode_table)

    if op not in zonemap.PRUNE_OPS:
        raise ValueError(f"op must be one of {zonemap.PRUNE_OPS}, got {op!r}")
    idx = BlockIndex.load(blocks, max_groups)
    headers, refs = idx.headers, idx.refs
    if column not in headers:
        raise ValueError(f"column {column!r} not in the blocks table")
    kind = zonemap.stat_kind(headers, column)
    zonemap.check_prefix(kind, op)
    nulls_only = op in ("isnull", "notnull")
    if kind is None and not nulls_only:
        raise ValueError(
            f"column {column!r} ({headers[column]['type']}) carries no zone "
            "stats; count requires a full decode")
    lit = None if nulls_only else zonemap.coerce(headers, column, op, value,
                                                 idx.tz)

    def classify(n_rows, null_count, lo, hi):
        """(class, rows the metadata counts) of one block."""
        if nulls_only:
            return zonemap.FULL, (null_count if op == "isnull"
                                  else n_rows - null_count)
        c = zonemap.block_class(kind, op, lit, n_rows, null_count, lo, hi)
        return c, n_rows - null_count

    pred = _pred_expr(column, op, value)
    if idx.blocks is not None:
        g_total = meta_count = 0
        boundary = []
        for b in idx.blocks.get(column, ()):
            c, n = classify(b.n_rows, b.null_count, b.min_val, b.max_val)
            g_total += 1
            if c == zonemap.FULL:
                meta_count += n
            elif c == zonemap.BOUNDARY:
                boundary.append(b.key)
        g_boundary = len(boundary)
        keys = sorted({f"{s}\x00{p}\x00{q}" for s, p, q in boundary})
        ident = F.concat_ws("\x00", "_src_file", "_part_id", "_block_id")
    else:
        # over the cap: the same per-block rule, run inside tasks
        def classify_batches(batches):
            import pyarrow as pa

            for rb in batches:
                cls, n = zip(*map(classify, *(rb.column(i).to_pylist()
                                              for i in range(2, 6)))) \
                    if rb.num_rows else ((), ())
                yield pa.record_batch(
                    [rb.column(0), rb.column(1), pa.array(cls, pa.int32()),
                     pa.array(n, pa.int64())],
                    names=["part_id", "block_id", "cls", "n"])

        classes = (blocks.filter(F.col("column") == column)
                   .select("part_id", "block_id", "n_rows", "null_count",
                           "min_val", "max_val")
                   .mapInArrow(classify_batches,
                               "part_id int, block_id bigint, cls int, n bigint"))
        agg = classes.agg(
            F.sum(F.when(F.col("cls") == zonemap.FULL, F.col("n"))
                  .otherwise(F.lit(0))).alias("meta_count"),
            F.count("*").alias("g_total"),
            F.sum((F.col("cls") == zonemap.BOUNDARY).cast("long"))
            .alias("g_boundary"),
        ).collect()[0]
        meta_count = int(agg["meta_count"] or 0)
        g_total = int(agg["g_total"])
        g_boundary = int(agg["g_boundary"] or 0)
        if g_boundary > max_groups:
            cnt = decode_table(blocks, [column], headers=headers, refs=refs,
                               pre_grouped=pre_grouped).filter(pred).count()
            return {"count": int(cnt), "groups_total": g_total,
                    "groups_metadata": 0, "groups_decoded": g_total}
        boundary = ([(None, r["part_id"], r["block_id"]) for r in
                     classes.filter(F.col("cls") == zonemap.BOUNDARY)
                     .select("part_id", "block_id").distinct().collect()]
                    if g_boundary else [])
        keys = sorted(f"{p}\x00{q}" for _, p, q in boundary)
        ident = F.concat_ws("\x00", "_part_id", "_block_id")
    if g_boundary == 0:
        return {"count": meta_count, "groups_total": g_total,
                "groups_metadata": g_total, "groups_decoded": 0}

    # the parts×bids isin filter is a pushdown-friendly SUPERSET; exact
    # block identity comes from decode positions so full/none groups that
    # slip through the superset can never be double-counted
    sub = _keep_pairs(blocks, {(p, q) for _, p, q in boundary})
    dec = decode_table(sub, [column], with_positions=True,
                       headers=headers, refs=refs, pre_grouped=pre_grouped)
    cnt_b = dec.filter(ident.isin(keys)).filter(pred).count()
    return {"count": meta_count + int(cnt_b), "groups_total": g_total,
            "groups_metadata": g_total - g_boundary,
            "groups_decoded": g_boundary}


def column_stats_pushdown(blocks: DataFrame,
                          columns: list[str] | None = None,
                          with_sum: bool = False) -> dict[str, dict]:
    """Exact ``count`` / ``null_count`` / ``min`` / ``max`` per column,
    answered from block zone stats alone — payload bytes are never read
    (the aggregation touches only the metadata columns, so Catalyst prunes
    ``payload`` out of the parquet scan entirely). The distributed analogue
    of a parquet footer-aggregate query (`nail metadata`'s statistics dump,
    /root/reference/src/commands/metadata.rs:275-316, turned into an exact
    answer), at O(#blocks) metadata rows instead of O(data).

    Returns ``{column: {"count", "null_count", "min", "max"}}`` with
    min/max as typed Python values (int / float / bool / datetime / date /
    str); all-null columns report min/max None.

    Exactness is PROVEN or the call raises ValueError — never a silently
    approximate answer: a column without zone stats, a block whose stats
    are missing, and any stat that does not read back as its exact value
    (:func:`codec.zonemap.read_back`: a string at the render cap, or a
    render that does not parse) all raise, because each would otherwise
    widen or silently drop that block's extremes.

    ``with_sum=True`` adds ``sum`` / ``avg`` for integer and float columns
    from the per-block ``zsum`` header stat (encode.py ``_sum_string``;
    the header is metadata too — payloads stay unread). Integer sums are
    EXACT end-to-end: each block's sum is stored in arbitrary precision
    and the blocks merge under decimal(38,0) (a null merge result with a
    nonzero count raises instead of silently overflowing). Float sums are
    deterministic for a fixed block layout but summation-order-defined
    (per-block arrow pairwise sums merged in any order) — documented, not
    hidden: a float ``sum`` may differ from a sequential scan in the last
    ulp. Blocks encoded before this stat existed raise, same contract as
    min/max; non-numeric columns raise. ``avg`` is ``sum / count`` as
    double (None when count is 0, ANSI AVG-of-nothing).

    Why parsing is otherwise exact: int64/bool renders always fit and
    round-trip; Python float repr is the shortest round-trip form, so
    try_cast to double is bit-exact (``nan``/``inf`` renders parse too,
    and encode stamps max='nan' on NaN-bearing float blocks to match
    Spark/DuckDB's NaN-largest ordering); timestamp renders carry full
    microseconds and offset within the cap.
    """
    from nail_parquet_spark.codec import zonemap
    from nail_parquet_spark.codec.blockindex import BlockIndex

    headers = BlockIndex.load(blocks, stats=False).headers
    if columns is None:
        columns = sorted(headers)
    kinds = {}
    for c in columns:
        if c not in headers:
            raise ValueError(f"column {c!r} not in the blocks table")
        kinds[c] = zonemap.stat_kind(headers, c,
                                     need="exact min/max requires a decode")
    casts = {c: k.cast for c, k in kinds.items()}

    if with_sum:
        bad_sum_cols = [c for c in columns
                        if casts[c] not in ("bigint", "double")]
        if bad_sum_cols:
            raise ValueError(
                f"with_sum: columns {bad_sum_cols} are not int/float; "
                "SUM pushdown applies to numeric columns only"
            )

    aggs = []
    for c in columns:
        on = F.col("column") == c
        mn_t, mn_ok = zonemap.read_back(kinds[c], F.col("min_val"))
        mx_t, mx_ok = zonemap.read_back(kinds[c], F.col("max_val"))
        aggs += [
            # a present stat that is not exact must raise, not vanish
            F.max(F.when(on & F.col("min_val").isNotNull() & ~(mn_ok & mx_ok),
                         F.lit(1))).alias(f"cap__{c}"),
            F.min(F.when(on, mn_t)).alias(f"min__{c}"),
            F.max(F.when(on, mx_t)).alias(f"max__{c}"),
            F.sum(F.when(on, F.col("n_rows"))).alias(f"rows__{c}"),
            F.sum(F.when(on, F.col("null_count"))).alias(f"nulls__{c}"),
            F.max(F.when(on & zonemap.missing(F.col("min_val")), F.lit(1)))
            .alias(f"bad__{c}"),
        ]
        if with_sum:
            zs = F.when(on, F.get_json_object(F.col("header"), "$.zsum"))
            z_t = zs.try_cast(
                "decimal(38,0)" if casts[c] == "bigint" else "double")
            aggs += [
                F.sum(z_t).alias(f"sum__{c}"),
                # no zsum on a not-all-null block (pre-stat encode), or a
                # stored sum that fails to parse
                F.max(F.when(
                    on & ((zs.isNull()
                           & (F.col("null_count") < F.col("n_rows")))
                          | (zs.isNotNull() & z_t.isNull())), F.lit(1)
                )).alias(f"badsum__{c}"),
            ]
    row = blocks.agg(*aggs).collect()[0]  # ONE metadata row to the driver

    out: dict[str, dict] = {}
    for c in columns:
        if row[f"bad__{c}"] == 1:
            raise ValueError(
                f"column {c!r} has blocks without zone stats; exact "
                "min/max requires a decode"
            )
        if casts[c] is None and row[f"cap__{c}"] == 1:
            raise ValueError(
                f"column {c!r} has string stats at the {zonemap.RENDER_CAP}"
                "-char render cap (possibly truncated); exact min/max "
                "requires a decode"
            )
        if row[f"cap__{c}"] == 1:
            raise ValueError(
                f"column {c!r} has zone stats that do not parse back as "
                f"{casts[c]} (inf/nan render or corrupt metadata); exact "
                "min/max requires a decode"
            )
        n = int(row[f"rows__{c}"] or 0)
        nulls = int(row[f"nulls__{c}"] or 0)
        out[c] = {
            "count": n - nulls,
            "null_count": nulls,
            "min": row[f"min__{c}"],
            "max": row[f"max__{c}"],
        }
        if with_sum:
            if row[f"badsum__{c}"] == 1:
                raise ValueError(
                    f"column {c!r} has blocks without a stored sum stat "
                    "(encoded before sum stats); exact "
                    "SUM requires a decode"
                )
            if n - nulls == 0:
                out[c]["sum"] = out[c]["avg"] = None  # SUM of no rows
            else:
                s = row[f"sum__{c}"]
                if s is None:
                    raise ValueError(
                        f"column {c!r} SUM overflowed decimal(38,0) in "
                        "the merge; exact SUM requires a decode"
                    )
                s = int(s) if casts[c] == "bigint" else float(s)
                out[c]["sum"] = s
                out[c]["avg"] = float(s) / (n - nulls)
    return out


def group_stats_pushdown(blocks: DataFrame, group_col: str, value_col: str,
                         max_groups: int = 100_000,
                         pre_grouped: bool = False) -> DataFrame:
    """Exact ``GROUP BY group_col`` aggregates of a numeric ``value_col``
    — count / non-null count / sum / min / max / avg — served from block
    metadata wherever the layout allows, decoding ONLY the blocks it must.

    The hybrid rule, per block group:

    - a block whose ``group_col`` zone is one parseable untruncated value
      with zero group nulls ("point block") contributes its aggregates
      from metadata alone: n_rows, value null_count, zone min/max, and
      the ``zsum`` header sum stat — payload bytes never read;
    - every other block (group zone spans values, group nulls present,
      value stats/zsum missing or not exact — see
      :func:`codec.zonemap.read_back`) decodes RESIDUALLY, and only (group, value)
      columns of it;
    - the two sides merge under one final keyed groupBy. NULL groups are
      grouped (SQL GROUP BY semantics): null-group rows only ever live in
      residual blocks, so they are always exact.

    On a layout clustered by ``group_col`` (``optimize --sort-by`` /
    Z-order — the ingest shape this engine produces), the residual set is
    empty or tiny: GROUP BY over 100 TB costs a metadata aggregation.
    The reference computes grouped stats only by full scans
    (src/utils/stats.rs); this is the lakehouse-native shape.

    Output columns: ``group_col``, ``n_rows`` (COUNT(*)), ``n_vals``
    (COUNT(value)), ``sum_val``, ``min_val``, ``max_val``, ``avg_val``.
    Integer sums merge in decimal(38,0): a ``sum_val`` NULL while
    ``n_vals > 0`` signals decimal overflow (documented, never silent
    wraparound). Over ``max_groups`` residual block groups the whole
    table decodes (correct, unpruned). Value column must be integer or
    float; the group column any kind with zone stats
    (:func:`codec.zonemap.stat_kind`).
    """
    from nail_parquet_spark.codec import zonemap
    from nail_parquet_spark.codec.blockindex import BlockIndex, _src_expr_frame
    from nail_parquet_spark.codec.decode import _filter_block_pairs, decode_table

    if group_col == value_col:
        raise ValueError("group_col and value_col must differ")
    idx = BlockIndex.load(blocks, stats=False)
    headers, refs = idx.headers, idx.refs
    for c in (group_col, value_col):
        if c not in headers:
            raise ValueError(f"column {c!r} not in the blocks table")
    gkind = zonemap.stat_kind(headers, group_col,
                              need="grouped stats must decode")
    vkind = zonemap.stat_kind(headers, value_col)
    vcast = vkind.cast if vkind is not None else None
    if vcast not in ("bigint", "double"):
        raise ValueError(
            f"value column {value_col!r} ({headers[value_col]['type']}) "
            "is not integer/float; grouped SUM pushdown is numeric-only")
    scast = "decimal(38,0)" if vcast == "bigint" else "double"

    # physical-block identity is (source file, part_id, block_id): encode
    # jobs restart part ids at 0, so on a snapshot table's union of
    # batch=* dirs the bare pair collides — joining g/v metadata on it
    # would many-to-many multiply and double-count rows
    srcb = _src_expr_frame(blocks)
    # duplicate physical identities (empty __src over a union of in-memory
    # encode jobs) would double-count through the metadata join: fall back
    # to the full decode, whose group-assembly refuses duplicates LOUDLY
    # instead of silently merging
    dup = (srcb.filter(F.col("column").isin([group_col, value_col]))
           .groupBy("__src", "part_id", "block_id", "column")
           .count().filter(F.col("count") > 1).limit(1).count())
    if dup:
        dec = decode_table(blocks, columns=[group_col, value_col],
                           headers=headers, refs=refs,
                           pre_grouped=pre_grouped)
        v = F.col(value_col).cast(scast)
        return (dec.groupBy(group_col)
                .agg(F.count(F.lit(1)).alias("n_rows"),
                     F.count(value_col).alias("n_vals"),
                     F.sum(v).alias("sum_val"),
                     F.min(value_col).alias("min_val"),
                     F.max(value_col).alias("max_val"))
                .withColumn("avg_val",
                            F.col("sum_val").cast("double")
                            / F.col("n_vals")))
    gm = (srcb.filter(F.col("column") == group_col)
          .select("__src", "part_id", "block_id", "n_rows",
                  F.col("null_count").alias("g_nulls"),
                  F.col("min_val").alias("g_min"),
                  F.col("max_val").alias("g_max")))
    gval, g_lo_ok = zonemap.read_back(gkind, F.col("g_min"))
    g_hi, g_hi_ok = zonemap.read_back(gkind, F.col("g_max"))
    g_point = g_lo_ok & g_hi_ok & (gval == g_hi)
    gm = gm.select("__src", "part_id", "block_id", "n_rows", "g_nulls",
                   gval.alias("g_val"),
                   ((F.col("g_nulls") == 0) & g_point).alias("g_ok"))

    v_min, v_min_ok = zonemap.read_back(vkind, F.col("min_val"))
    v_max, v_max_ok = zonemap.read_back(vkind, F.col("max_val"))
    vm = (srcb.filter(F.col("column") == value_col)
          .select("__src", "part_id", "block_id",
                  F.col("n_rows").alias("v_rows"),
                  F.col("null_count").alias("v_nulls"),
                  v_min.alias("v_min"), v_max.alias("v_max"),
                  (v_min_ok & v_max_ok).alias("v_stats_ok"),
                  F.get_json_object("header", "$.zsum").try_cast(scast)
                  .alias("v_sum"),
                  F.get_json_object("header", "$.zsum").isNotNull()
                  .alias("v_has_sum")))
    # value side is metadata-eligible when the block is all-null (sum 0,
    # no extremes) OR every stat is present and parsed back
    v_all_null = F.col("v_nulls") == F.col("v_rows")
    v_ok = v_all_null | (F.col("v_stats_ok")
                         & F.col("v_has_sum")
                         & F.col("v_sum").isNotNull())

    # FULL outer: a block group missing either column (heterogeneous
    # batches under schema evolution) must fall to the residual decode,
    # never silently out of the answer
    meta = gm.join(vm.withColumn("v_ok", v_ok),
                   ["__src", "part_id", "block_id"], "full_outer")
    ok = (F.coalesce(F.col("g_ok"), F.lit(False))
          & F.coalesce(F.col("v_ok"), F.lit(False)))
    # residual decode can only target (part, block) PAIRS, so a pair with
    # ANY ineligible physical block goes residual entirely — its eligible
    # siblings are demoted too, else they'd be counted on both sides
    bad_pairs = meta.filter(~ok).select("part_id", "block_id").distinct()
    eligible = meta.filter(ok).join(bad_pairs, ["part_id", "block_id"],
                                    "left_anti")
    got = bad_pairs.limit(max_groups + 1).collect()
    if len(got) > max_groups:
        # residual set too large to enumerate: full decode, still exact
        dec = decode_table(blocks, columns=[group_col, value_col],
                           headers=headers, refs=refs,
                           pre_grouped=pre_grouped)
        v = F.col(value_col).cast(scast)
        return (dec.groupBy(group_col)
                .agg(F.count(F.lit(1)).alias("n_rows"),
                     F.count(value_col).alias("n_vals"),
                     F.sum(v).alias("sum_val"),
                     F.min(value_col).alias("min_val"),
                     F.max(value_col).alias("max_val"))
                .withColumn("avg_val",
                            F.col("sum_val").cast("double")
                            / F.col("n_vals")))

    mside = (eligible.groupBy("g_val")
             .agg(F.sum("n_rows").alias("n_rows"),
                  F.sum(F.col("v_rows") - F.col("v_nulls")).alias("n_vals"),
                  F.sum(F.when(v_all_null, F.lit(0).cast(scast))
                        .otherwise(F.col("v_sum"))).alias("sum_val"),
                  F.min("v_min").alias("min_val"),
                  F.max("v_max").alias("max_val"))
             .withColumnRenamed("g_val", group_col))

    pairs = {(r["part_id"], r["block_id"]) for r in got}
    sides = [mside]
    if pairs:
        rdec = decode_table(_filter_block_pairs(blocks, pairs),
                            columns=[group_col, value_col],
                            headers=headers, refs=refs,
                            pre_grouped=pre_grouped)
        rside = (rdec.groupBy(group_col)
                 .agg(F.count(F.lit(1)).alias("n_rows"),
                      F.count(value_col).alias("n_vals"),
                      F.sum(F.col(value_col).cast(scast)).alias("sum_val"),
                      F.min(value_col).cast(vcast).alias("min_val"),
                      F.max(value_col).cast(vcast).alias("max_val")))
        sides.append(rside.select(*mside.columns))
    merged = sides[0] if len(sides) == 1 else sides[0].unionByName(sides[1])
    # a NULL partial sum with n_vals > 0 means decimal overflow on that
    # side; F.sum would silently SKIP it, so carry an explicit flag and
    # NULL the merged total instead (the documented overflow signal)
    ovf = F.max(F.when(F.col("sum_val").isNull() & (F.col("n_vals") > 0),
                       F.lit(1)).otherwise(F.lit(0))).alias("__ovf")
    out = (merged.groupBy(group_col)
           .agg(F.sum("n_rows").alias("n_rows"),
                F.sum("n_vals").alias("n_vals"),
                F.sum("sum_val").alias("sum_val"),
                F.min("min_val").alias("min_val"),
                F.max("max_val").alias("max_val"),
                ovf))
    good_sum = (F.col("n_vals") > 0) & (F.col("__ovf") == 0)
    return (out.withColumn("sum_val", F.when(good_sum, F.col("sum_val")))
        .withColumn("min_val", F.when(F.col("n_vals") > 0, F.col("min_val")))
        .withColumn("max_val", F.when(F.col("n_vals") > 0, F.col("max_val")))
        .withColumn("avg_val", F.when(
            good_sum, F.col("sum_val").cast("double") / F.col("n_vals")))
        .drop("__ovf"))
