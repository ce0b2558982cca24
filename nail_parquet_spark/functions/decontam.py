"""Benchmark decontamination: n-gram overlap between a training corpus and
an evaluation/benchmark set, and the filter that removes tainted docs.

Beyond the reference surface (the reference engine has no decontamination
verb) — this is the standard pre-training hygiene step: any document whose
word n-grams collide with the eval set above a threshold is removed so the
benchmark cannot leak into training data (the GPT-3 appendix-C / Llama
13-gram rule is ``n=13, min_hits=1``).

Scale shape (100 TB corpus vs a benchmark set of at most GBs):

- The eval side reduces to a DISTINCT set of 8-byte n-gram hashes —
  tens of millions of longs for even a large benchmark suite — so it is
  broadcast and the corpus side NEVER shuffles its text: the only exchange
  in the whole operator is the final per-doc count keyed by doc id.
- Both sides are the hashed-shingle table of the near-dup operators
  (``functions.dedup._shingle_hashes``: per-row ``array_distinct`` +
  explode, no global distinct on the corpus side, every n-gram hashed to
  the portable 60-bit md5 long before anything crosses the wire).
- ``broadcast_eval=False`` falls back to a hash-join for a pathologically
  large eval set; the corpus side still ships only (id, hash).

A cross-gram 60-bit hash collision could count a clean gram as a hit with
probability ~2^-60 per pair; the DuckDB oracle reproduces the identical
hashing so attested results are value-exact.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from .dedup import _shingle_hashes


def eval_ngram_hashes(eval_df: DataFrame, text_col: str, n: int = 13) -> DataFrame:
    """DISTINCT 60-bit hashes of every word ``n``-gram in the eval set —
    one column ``__h`` (bigint). Rows shorter than ``n`` words contribute
    nothing (same convention as word_shingles)."""
    tagged = eval_df.select(
        F.monotonically_increasing_id().alias("__eid"), F.col(text_col)
    )
    return _shingle_hashes(tagged, "__eid", text_col, k=n).select("__h").distinct()


def _overlap_against(docs: DataFrame, ev: DataFrame, id_col: str,
                     text_col: str, n: int, broadcast_eval: bool) -> DataFrame:
    """:func:`ngram_overlap` against :func:`eval_ngram_hashes` output."""
    ev = ev.withColumn("__hit", F.lit(1))
    if broadcast_eval:
        ev = F.broadcast(ev)
    per_doc = (
        _shingle_hashes(docs, id_col, text_col, k=n)
        .join(ev, "__h", "left")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.sum(F.coalesce(F.col("__hit"), F.lit(0))).alias("n_hit"),
        )
    )
    return (
        docs.select(id_col)
        .join(per_doc, id_col, "left")
        .select(
            F.col(id_col),
            F.coalesce(F.col("n_grams"), F.lit(0)).cast("bigint").alias("n_grams"),
            F.coalesce(F.col("n_hit"), F.lit(0)).cast("bigint").alias("n_hit"),
            F.when(
                F.coalesce(F.col("n_grams"), F.lit(0)) > 0,
                F.round(F.col("n_hit") / F.col("n_grams"), 6),
            ).otherwise(F.lit(0.0)).alias("contam_frac"),
        )
    )


def ngram_overlap(docs: DataFrame, eval_df: DataFrame, id_col: str,
                  text_col: str, n: int = 13, eval_text_col: str | None = None,
                  broadcast_eval: bool = True) -> DataFrame:
    """Per-document contamination report against the eval set.

    Returns (id, n_grams, n_hit, contam_frac):

    - ``n_grams``  — the doc's DISTINCT word n-gram count,
    - ``n_hit``    — how many of those appear anywhere in the eval set,
    - ``contam_frac`` — ``round(n_hit / n_grams, 6)`` (0.0 for docs with
      fewer than ``n`` words).

    Requires ``id_col`` unique per row (the document-table contract shared
    with word_shingles). ONE explode + ONE groupBy shuffle keyed by doc id;
    the eval set joins broadcast by default.
    """
    ev = eval_ngram_hashes(eval_df, eval_text_col or text_col, n)
    return _overlap_against(docs, ev, id_col, text_col, n, broadcast_eval)


def _contaminated(docs: DataFrame, ev: DataFrame, id_col: str,
                  text_col: str, n: int, min_hits: int, min_frac: float,
                  broadcast_eval: bool = True) -> DataFrame:
    """The ids of ``docs`` that :func:`decontaminate`'s rule flags against
    :func:`eval_ngram_hashes` output, so a stream reduces its eval set
    once for every micro-batch."""
    rep = _overlap_against(docs, ev, id_col, text_col, n, broadcast_eval)
    return rep.filter(
        (F.col("n_hit") >= min_hits) & (F.col("contam_frac") >= min_frac)
    ).select(id_col)


def decontaminate(docs: DataFrame, eval_df: DataFrame, id_col: str,
                  text_col: str, n: int = 13, min_hits: int = 1,
                  min_frac: float = 0.0, eval_text_col: str | None = None,
                  broadcast_eval: bool = True) -> DataFrame:
    """Remove documents contaminated by the eval set; returns the kept rows
    with their original schema and cardinality (left_anti on the flagged
    ids — duplicate-id inputs are NOT silently merged, but the overlap
    counts themselves require unique ids, as documented on ngram_overlap).

    A doc is flagged iff ``n_hit >= min_hits`` AND
    ``contam_frac >= min_frac`` (the rounded fraction of
    :func:`ngram_overlap`; a doc with no n-grams has ``contam_frac`` 0.0).
    The classic 13-gram rule is the default (``min_hits=1,
    min_frac=0.0``: one colliding 13-gram removes the doc).
    """
    ev = eval_ngram_hashes(eval_df, eval_text_col or text_col, n)
    bad = _contaminated(docs, ev, id_col, text_col, n, min_hits, min_frac,
                        broadcast_eval)
    return docs.join(bad, id_col, "left_anti")


def semantic_overlap(docs: DataFrame, eval_df: DataFrame, id_col: str,
                     text_col: str, dim: int = 64,
                     eval_text_col: str | None = None,
                     broadcast_eval: bool = True) -> DataFrame:
    """SEMANTIC contamination report: per-doc maximum cosine between the
    doc's hashed bag-of-words embedding (functions/embed, pinned contract)
    and ANY eval-set embedding — the complement of :func:`ngram_overlap`
    for paraphrased benchmark leakage that verbatim n-grams miss.

    Returns (id, max_cosine): ``max_cosine`` is the rounded-6 cosine of
    the nearest eval vector, NULL when the doc has no embedding
    (NULL/blank text) or the eval set has none.

    Scale shape (100-TB corpus vs a benchmark set of at most GBs): both
    sides embed as Exchange-free projections; the eval side reduces to
    DISTINCT vectors and broadcasts, so the corpus never shuffles — the
    only exchange is the final doc-keyed max. Norms are staged once per
    row on both sides (never recomputed per pair).
    """
    from nail_parquet_spark.functions.embed import hashed_ngram_embedding
    from nail_parquet_spark.functions.similarity import _dot_expr, _norm_expr

    d = hashed_ngram_embedding(
        docs.select(F.col(id_col), F.col(text_col)), text_col,
        out_col="__dv", dim=dim,
    ).filter(F.col("__dv").isNotNull()).select(F.col(id_col), "__dv")
    d = d.withColumn("__dn", _norm_expr(F.col("__dv")))
    ev = hashed_ngram_embedding(
        eval_df.select(F.col(eval_text_col or text_col).alias("__etext")),
        "__etext", out_col="__ev", dim=dim,
    ).filter(F.col("__ev").isNotNull()).select("__ev").distinct()
    ev = ev.withColumn("__en", _norm_expr(F.col("__ev")))
    if broadcast_eval:
        ev = F.broadcast(ev)
    cos = F.round(
        _dot_expr(F.col("__dv"), F.col("__ev"))
        / (F.col("__dn") * F.col("__en")),
        6,
    )
    per_doc = (
        d.crossJoin(ev)
        .select(F.col(id_col), cos.alias("__cos"))
        .groupBy(id_col)
        .agg(F.max("__cos").alias("max_cosine"))
    )
    return docs.select(id_col).join(per_doc, id_col, "left")


def semantic_decontaminate(docs: DataFrame, eval_df: DataFrame, id_col: str,
                           text_col: str, tau: float = 0.9, dim: int = 64,
                           eval_text_col: str | None = None,
                           broadcast_eval: bool = True) -> DataFrame:
    """Remove documents whose nearest eval embedding sits at cosine
    >= ``tau`` (left_anti on the flagged ids — original schema and
    cardinality preserved; NULL-text docs are never flagged)."""
    rep = semantic_overlap(docs, eval_df, id_col, text_col, dim=dim,
                           eval_text_col=eval_text_col,
                           broadcast_eval=broadcast_eval)
    bad = rep.filter(F.col("max_cosine") >= tau).select(id_col)
    return docs.join(bad, id_col, "left_anti")


def scrub_eval_spans(docs: DataFrame, eval_df: DataFrame, id_col: str,
                     text_col: str, w: int = 13,
                     eval_text_col: str | None = None,
                     broadcast_eval: bool = True) -> DataFrame:
    """SURGICAL decontamination (the span variant of :func:`decontaminate`):
    instead of dropping whole contaminated documents, remove only the
    tokens covered by a w-token window that appears anywhere in the eval
    set, and rebuild the documents from the survivors — the Lee-et-al
    exact-substring treatment applied cross-set, keeping the clean bulk of
    a page whose footer quotes a benchmark question.

    Pinned contract (shared with dedup.remove_duplicate_spans, whose
    rebuild engine this reuses): module tokenization (trim + lower +
    split \\s+), windows keyed by the portable 60-bit hash, EVERY covered
    token drops, the rebuilt text is normalized to lowercase single-space
    tokens, NULL text passes through, a fully-covered doc comes back ''.

    Scale shape: the eval side reduces to DISTINCT window hashes
    (broadcast by default); the corpus side ships only (id, pos, 8-byte
    hash) rows; interval union + rebuild are id-keyed (bounded per-doc
    state, no global windows).
    """
    from nail_parquet_spark.functions.dedup import (
        _remove_covered_windows, _window_positions)

    ev_tagged = eval_df.select(
        F.monotonically_increasing_id().alias("__eid"),
        F.col(eval_text_col or text_col).alias("__etxt"),
    )
    evh = _window_positions(ev_tagged, "__eid", "__etxt", w) \
        .select("h").distinct()
    if broadcast_eval:
        evh = F.broadcast(evh)
    leaked = (
        _window_positions(docs, id_col, text_col, w)
        .join(evh, "h")
        .select("__id", "pos")
    )
    return _remove_covered_windows(docs, id_col, text_col, leaked, w)
