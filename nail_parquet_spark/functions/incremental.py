"""Incremental (cross-snapshot) dedup: dedupe a NEW crawl batch against a
PREVIOUSLY-curated corpus without re-deduping the old corpus.

This is the shape a real 100-TB pipeline runs every crawl: snapshot N is
already curated and encoded; crawl N+1 must drop (a) docs byte-identical
to anything already kept and (b) docs near-duplicate to anything already
kept — WITHOUT joining old-vs-old (that work is done) and without moving
the old corpus's text across the wire more than once.

Scale design:
- Exact: both sides reduce to a 16-byte md5 fingerprint before the
  left_anti join, so the shuffle carries fingerprints, not documents. The
  prior side is a projection of ONE column; when the prior corpus is an
  encoded block table, ``prior_texts`` decodes only that column (column
  pruning is free in the block engine — other columns' blocks are never
  read).
- Near: MinHash signatures are computed per side (new: n rows, prior: M
  rows — linear, no pairing), band buckets join new-vs-prior ONLY (the
  old-vs-old and new-vs-new quadrants are excluded by construction, not
  filtered after), and exact Jaccard verification touches candidate pairs
  only. At steady state |new| << |prior| and the per-band bucket join is
  the standard inverted-index shape with ids+band-hashes on the wire.

Reference parity: nail-parquet has no incremental mode (each run is
whole-input, reference src/commands/dedup.rs); this module is
beyond-reference surface motivated by the north rule's resumable-snapshot
corpus building.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from nail_parquet_spark.functions.dedup import (_band_buckets, _overlap_pairs,
                                                _shingle_hashes,
                                                minhash_signatures)
from nail_parquet_spark.functions.text import doc_fingerprint


def dedup_against(df: DataFrame, prior: DataFrame, text_col: str,
                  prior_text_col: str | None = None) -> DataFrame:
    """Keep rows of ``df`` whose ``text_col`` is NOT byte-identical to any
    prior row's text. NULL texts in ``df`` are kept (absent content is not
    evidence of duplication — same contract as ``dedup_exact``); NULL prior
    texts match nothing (md5(NULL) is NULL, anti-join keeps non-matches).

    ORACLE: anti join on md5(text) — portable to any SQL engine.
    """
    pcol = prior_text_col or text_col
    seen = prior.select(doc_fingerprint(F.col(pcol)).alias("__fp")).filter(
        F.col("__fp").isNotNull())
    return (
        df.withColumn("__fp", doc_fingerprint(F.col(text_col)))
        .join(seen, "__fp", "left_anti")
        .drop("__fp")
    )


SIG_DIR = "_signatures"


def signatures_of(df: DataFrame, text_col: str = "text",
                  num_hashes: int = 16, shingle_k: int = 3) -> DataFrame:
    """Fingerprint-keyed MinHash signature table (fp, mh_0..mh_{k-1}) of a
    corpus's DISTINCT non-NULL texts — the storable dedup state."""
    d = (df.select(F.col(text_col))
         .filter(F.col(text_col).isNotNull())
         .distinct()
         .withColumn("fp", doc_fingerprint(F.col(text_col))))
    return minhash_signatures(d, "fp", text_col,
                              num_hashes=num_hashes, shingle_k=shingle_k)


def save_signatures(df: DataFrame, out_dir: str, text_col: str = "text",
                    num_hashes: int = 16, shingle_k: int = 3) -> str:
    """Persist fingerprint-keyed MinHash signatures of a corpus's DISTINCT
    texts under ``out_dir/_signatures/`` (hidden-path convention — scans
    and autodetect skip it), with the hash-family params in
    ``_params.json`` so a later incremental run can verify compatibility.

    This is what makes incremental near-dedup viable at 100 TB: the prior
    corpus's signatures are computed ONCE, at commit time, instead of being
    re-derived from the full prior text on every subsequent crawl. The
    table is keyed by content fingerprint (md5 of the text), so it is
    join-stable across runs and dedup-safe under re-crawled URLs."""
    import os

    from nail_parquet_spark.pipeline.checkpoint import _atomic_json

    sigs = signatures_of(df, text_col, num_hashes=num_hashes,
                         shingle_k=shingle_k)
    path = os.path.join(out_dir, SIG_DIR)
    sigs.write.mode("overwrite").parquet(path)
    _atomic_json(os.path.join(path, "_params.json"),
                 {"num_hashes": num_hashes, "shingle_k": shingle_k,
                  "text_col": text_col, "key": "md5(text)"})
    return path


def load_signatures(spark: SparkSession, out_dir: str):
    """(signatures DataFrame, params dict) for a corpus that saved them, or
    ``None`` — callers fall back to recomputing from the prior text."""
    import json
    import os

    path = os.path.join(out_dir, SIG_DIR)
    params = os.path.join(path, "_params.json")
    if not os.path.exists(params):
        return None
    with open(params) as f:
        meta = json.load(f)
    return spark.read.parquet(path), meta


def near_dup_against_pairs(df: DataFrame, prior: DataFrame, id_col: str,
                           text_col: str, prior_id_col: str | None = None,
                           prior_text_col: str | None = None,
                           threshold: float = 0.7, num_hashes: int = 16,
                           bands: int = 4, shingle_k: int = 3,
                           prior_sigs: DataFrame | None = None) -> DataFrame:
    """Verified near-duplicate CROSS pairs (id_new, id_prior, jaccard):
    MinHash band buckets joined new-vs-prior only, then exact shingle-set
    Jaccard on the candidates.

    With ``prior_sigs`` (a ``save_signatures`` table, fingerprint-keyed),
    the prior side's signatures are NOT recomputed — the stored table
    feeds the banding directly and ``id_prior`` in the output is the
    content fingerprint. This is the steady-state 100-TB path: per crawl,
    the only prior-text work is shingling the docs that actually appear in
    candidate pairs (a semi-join-restricted sliver), not the whole corpus.

    The verify step deduplicates each side's hashed-shingle set ONCE
    (``functions.dedup._shingle_hashes``), so the only wide shuffles
    carry (id, 8-byte hash) rows.
    """
    pid = prior_id_col or id_col
    pcol = prior_text_col or text_col
    if num_hashes % bands:
        raise ValueError("num_hashes must be divisible by bands")
    if prior_sigs is not None:
        # stored signatures are keyed by content fingerprint
        prior_view = prior.select(
            doc_fingerprint(F.col(pcol)).alias("__pid"),
            F.col(pcol).alias(text_col)).filter(F.col("__pid").isNotNull())
        sig_old = prior_sigs.select(F.col("fp").alias("__pid"),
                                    *[f"mh_{i}" for i in range(num_hashes)])
    else:
        prior_view = prior.select(F.col(pid).alias("__pid"),
                                  F.col(pcol).alias(text_col))
        sig_old = minhash_signatures(prior_view, "__pid", text_col,
                                     num_hashes=num_hashes,
                                     shingle_k=shingle_k)
    sig_new = minhash_signatures(df, id_col, text_col,
                                 num_hashes=num_hashes, shingle_k=shingle_k)
    bn = _band_buckets(sig_new, id_col, num_hashes, bands).alias("n")
    bo = _band_buckets(sig_old, "__pid", num_hashes, bands).alias("o")
    cand = (
        bn.join(bo, F.col("n.bucket") == F.col("o.bucket"))
        .select(F.col(f"n.{id_col}").alias("id_new"),
                F.col("o.__pid").alias("id_prior"))
        .distinct()
    )
    # exact verify on cross pairs: per-side shingle-hash sets. The prior
    # side shingles ONLY the candidate docs (left_semi restriction) — at
    # steady state that is a sliver of the prior corpus, and the
    # restriction is equally correct in the recompute path.
    prior_cand = prior_view.join(
        cand.select(F.col("id_prior").alias("__pid")).distinct(),
        "__pid", "left_semi")
    sh_new = (_shingle_hashes(df, id_col, text_col, k=shingle_k)
              .withColumnRenamed(id_col, "id_new").distinct())
    sh_old = (_shingle_hashes(prior_cand, "__pid", text_col, k=shingle_k)
              .withColumnRenamed("__pid", "id_prior").distinct())
    inter = (
        cand.join(sh_new, "id_new")
        .join(sh_old, ["id_prior", "__h"])
        .groupBy("id_new", "id_prior")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    return _overlap_pairs(inter, (sh_new, "id_new"), (sh_old, "id_prior"),
                          threshold)


def near_dedup_against(df: DataFrame, prior: DataFrame, id_col: str,
                       text_col: str, prior_id_col: str | None = None,
                       prior_text_col: str | None = None,
                       threshold: float = 0.7, num_hashes: int = 16,
                       bands: int = 4, shingle_k: int = 3,
                       prior_sigs: DataFrame | None = None) -> DataFrame:
    """Drop rows of ``df`` with a verified near-duplicate in ``prior``
    (the prior corpus always wins — it is already committed)."""
    pairs = near_dup_against_pairs(
        df, prior, id_col, text_col, prior_id_col=prior_id_col,
        prior_text_col=prior_text_col, threshold=threshold,
        num_hashes=num_hashes, bands=bands, shingle_k=shingle_k,
        prior_sigs=prior_sigs)
    drop = pairs.select(F.col("id_new").alias(id_col)).distinct()
    return df.join(drop, id_col, "left_anti")


def prior_texts(spark: SparkSession, src: str, text_col: str) -> DataFrame:
    """One-column projection of a prior corpus for incremental dedup.

    ``src`` may be a plain data path (parquet/csv/...) or an encoded-blocks
    out_dir written by ``encode_resumable``/``curate_and_encode_corpus``
    (detected by its snapshot log). For the encoded case only the
    ``text_col`` blocks are decoded — the rest of the corpus stays on disk.
    """
    import os

    if os.path.isdir(os.path.join(src, "_snapshots")):
        from nail_parquet_spark.codec.decode import decode_table
        from nail_parquet_spark.pipeline.checkpoint import read_blocks_at

        return decode_table(read_blocks_at(spark, src), columns=[text_col])
    from nail_parquet_spark.sources.io import read_data

    return read_data(spark, src).select(text_col)
