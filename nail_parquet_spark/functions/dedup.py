"""Deduplication for training-data pipelines: exact, MinHash+LSH, SimHash,
n-gram Jaccard, embedding-cosine near-dup.

Scale design: every method is candidate-generation (cheap, distributed,
bucket-join) followed by verification (exact measure on candidate pairs
only) — never an O(n²) cross join. Hashes are md5-derived so the DuckDB
oracle can reproduce them bit-for-bit.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame, functions as F

from nail_parquet_spark.functions.text import doc_fingerprint, word_hash


def exact_duplicates(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Groups of byte-identical texts: (fingerprint, n_docs, keep_id).
    keep_id = min id; rows with n_docs > 1 are duplicate clusters.

    NULL texts are excluded: absent content is not evidence of duplication,
    so NULL-text rows never form (or join) a cluster.
    """
    return (
        df.select(F.col(id_col), doc_fingerprint(F.col(text_col)).alias("fingerprint"))
        .filter(F.col("fingerprint").isNotNull())
        .groupBy("fingerprint")
        .agg(F.count(F.lit(1)).alias("n_docs"), F.min(id_col).alias("keep_id"))
        .filter(F.col("n_docs") > 1)
    )


def dedup_exact(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Keep one row (min id) per distinct text.

    NULL texts are passed through untouched (doc_fingerprint(NULL) is NULL;
    such rows join nothing and are always kept) — previously they vanished
    because the inner join on fingerprint equality never matches NULL.
    """
    w_keep = (
        df.select(F.col(id_col).alias("__id"), doc_fingerprint(F.col(text_col)).alias("__fp"))
        .filter(F.col("__fp").isNotNull())
        .groupBy("__fp")
        .agg(F.min("__id").alias("__keep"))
    )
    return (
        df.join(w_keep, doc_fingerprint(F.col(text_col)) == F.col("__fp"), "left")
        .filter(F.col("__keep").isNull() | (F.col(id_col) == F.col("__keep")))
        .drop("__fp", "__keep")
    )


def _words(text_col: str) -> F.Column:
    t = F.trim(F.lower(F.col(text_col)))
    return F.when(t == "", F.array().cast("array<string>")).otherwise(F.split(t, r"\s+"))


def word_shingles(df: DataFrame, id_col: str, text_col: str, k: int = 3) -> DataFrame:
    """DISTINCT (id, shingle) pairs: k-word shingles via slice + concat —
    all JVM-side array ops.

    Set semantics come from ``array_distinct`` WITHIN each row's shingle
    array — a codegen'd array op — instead of a global ``.distinct()``,
    which shuffled every (id, shingle) string across the cluster (measured
    25% of the whole minhash wall at sf0.1; at 100 TB it's a full-corpus
    shuffle that buys nothing). Equivalent whenever ``id_col`` is unique
    per row, which document tables are; callers with duplicated ids must
    pre-aggregate.

    The word array is STAGED through its own projection before the
    per-shingle lambda references it: inlined, the lower+trim+regex-split
    chain re-evaluates once per shingle element (CollapseProject
    re-inlines single-consumer aliases), turning shingling O(words²) —
    measured 5-10x of this operator's wall at sf0.1. The multi-reference
    staged column is kept as a real projection, so the split runs once
    per row."""
    words = _words(text_col)
    staged = df.select(F.col(id_col), words.alias("__wsh_w"))
    w = F.col("__wsh_w")
    n = F.size(w)
    idx = F.sequence(F.lit(0), F.greatest(n - k, F.lit(0)))
    sh = F.transform(
        idx, lambda i: F.concat_ws(" ", F.slice(w, i + 1, k))
    )
    return staged.select(
        F.col(id_col),
        F.explode(
            F.when(n >= k, F.array_distinct(sh)).otherwise(F.array())
        ).alias("shingle"),
    )


_MH_PRIME = 2147483647  # 2^31 - 1


def _mh_params(num_hashes: int) -> list[tuple[int, int, int]]:
    """Deterministic (a1, a2, b) affine-mix constants from a splitmix64
    walk with a fixed seed, so Spark and any SQL oracle regenerate the
    identical hash family."""
    state = 0
    out = []

    def nxt() -> int:
        nonlocal state
        state = (state + 0x9E3779B97F4A7C15) % (1 << 64)
        z = state
        z = ((z ^ (z >> 30)) * 0xBF58476D1CE4E5B9) % (1 << 64)
        z = ((z ^ (z >> 27)) * 0x94D049BB133111EB) % (1 << 64)
        return z ^ (z >> 31)

    for _ in range(num_hashes):
        a1 = nxt() % (_MH_PRIME - 1) + 1
        a2 = nxt() % (_MH_PRIME - 1) + 1
        b = nxt() % _MH_PRIME
        out.append((a1, a2, b))
    return out


def minhash_signatures(df: DataFrame, id_col: str, text_col: str,
                       num_hashes: int = 16, shingle_k: int = 3) -> DataFrame:
    """MinHash signature per doc: ONE md5 per shingle, split into two 28-bit
    halves (x1, x2), then slot i = min over shingles of the universal-family
    hash (a1_i*x1 + a2_i*x2 + b_i) mod (2^31-1). All k slots are integer
    fused-multiply-adds inside whole-stage codegen over the single digest —
    vs the previous ceil(k/4) digests per shingle (md5 compute was the
    dominant cost: 4.4 s -> ~2.5 s warm at sf0.1 for k=4). Max intermediate
    is a1*x1 + a2*x2 + b < 2^61, no BIGINT overflow here or in any SQL
    engine reproducing it.

    ORACLE: min((a1_i * ('0x'||substr(md5(shingle),1,7))::BIGINT
               + a2_i * ('0x'||substr(md5(shingle),8,7))::BIGINT
               + b_i) % 2147483647) with constants from _mh_params(k).
    """
    sh = word_shingles(df, id_col, text_col, k=shingle_k)
    base = F.md5(F.encode(F.col("shingle"), "UTF-8"))
    x1 = F.conv(F.substring(base, 1, 7), 16, 10).cast("long")
    x2 = F.conv(F.substring(base, 8, 7), 16, 10).cast("long")
    sh = sh.select(id_col, x1.alias("__x1"), x2.alias("__x2"))
    aggs = [
        F.min(
            (F.lit(a1) * F.col("__x1") + F.lit(a2) * F.col("__x2") + F.lit(b))
            % F.lit(_MH_PRIME)
        ).alias(f"mh_{i}")
        for i, (a1, a2, b) in enumerate(_mh_params(num_hashes))
    ]
    return sh.groupBy(id_col).agg(*aggs)


def _band_buckets(sigs: DataFrame, id_col: str, num_hashes: int,
                  bands: int) -> DataFrame:
    """(id, bucket) rows, one per LSH band: the band number and the band's
    MinHash slots joined by ``|``."""
    per = num_hashes // bands
    return reduce(DataFrame.unionAll, [
        sigs.select(F.col(id_col), F.concat_ws(
            "|", F.lit(str(b)), *[F.col(f"mh_{b * per + r}") for r in range(per)]
        ).alias("bucket"))
        for b in range(bands)])


def minhash_lsh_candidates(sigs: DataFrame, id_col: str, num_hashes: int = 16,
                           bands: int = 4) -> DataFrame:
    """LSH banding: candidate pairs (id_a < id_b) sharing a band bucket.
    Pair extraction is a self-join per band bucket."""
    buckets = _band_buckets(sigs, id_col, num_hashes, bands)
    return (
        buckets.alias("a").join(buckets.alias("b"), (F.col("a.bucket") == F.col("b.bucket")) & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")))
        .select(F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b"))
        .distinct()
    )


def _shingle_hashes(df: DataFrame, id_col: str, text_col: str,
                    k: int = 3) -> DataFrame:
    """(id, __h): each doc's distinct k-word shingles as portable 60-bit
    md5 hashes — the set table of every near-dup and decontamination
    operator.

    Consumers read a doc's set several times (both join sides, the sizes,
    the doc-frequency cap), so shingles are hashed before anything crosses
    the wire and every later shuffle carries 8-byte longs, not text. Each
    caller deduplicates (id, __h) ONCE in its own shape; that exchange is
    the materialization point ReuseExchange shares across all consumers
    (measured 2x the whole operator at sf0.1 vs recomputing per consumer).
    A cross-shingle collision within one doc (~2^-60 per pair) could move
    a count by 1; the DuckDB oracles hash identically, so results stay
    value-exact."""
    return word_shingles(df, id_col, text_col, k=k).select(
        F.col(id_col), word_hash(F.col("shingle")).alias("__h"))


def _overlap_pairs(inter: DataFrame, side_a: tuple[DataFrame, str],
                   side_b: tuple[DataFrame, str], threshold: float,
                   containment: bool = False) -> DataFrame:
    """The verify tail: ``inter`` is (a, b, n_inter) per pair, and
    ``side_a``/``side_b`` are the (set table, id column) that a / b refer
    to. Returns (a, b, jaccard), or with ``containment=True`` (a, b,
    containment_a, containment_b) = n_inter / n_a, n_inter / n_b kept when
    the larger passes. The threshold compares the EXACT ratio (as the
    DuckDB oracles do); only the reported columns round to 6 places."""
    a, b = inter.columns[:2]

    def sizes(side: tuple[DataFrame, str], key: str, n: str) -> DataFrame:
        sh, sid = side
        return (sh.groupBy(sid).agg(F.count(F.lit(1)).alias("__n"))
                .withColumnRenamed(sid, key).withColumnRenamed("__n", n))

    pairs = inter.join(sizes(side_a, a, "n_a"), a).join(sizes(side_b, b, "n_b"), b)
    n_inter = F.col("n_inter")
    if containment:
        ra, rb = n_inter / F.col("n_a"), n_inter / F.col("n_b")
        return pairs.filter(F.greatest(ra, rb) >= threshold).select(
            a, b, F.round(ra, 6).alias("containment_a"),
            F.round(rb, 6).alias("containment_b"))
    ratio = n_inter / (F.col("n_a") + F.col("n_b") - n_inter)
    return pairs.filter(ratio >= threshold).select(
        a, b, F.round(ratio, 6).alias("jaccard"))


def _inverted_index_pairs(df: DataFrame, id_col: str, text_col: str,
                          shingle_k: int, max_doc_freq: int
                          ) -> tuple[DataFrame, DataFrame]:
    """The n-gram pair operators' inverted index: (inter, shh), with
    ``shh`` the deduplicated set table and ``inter`` (id_a, id_b, n_inter)
    for the pairs (id_a < id_b) sharing a shingle in at most
    ``max_doc_freq`` docs. The cap bounds the self-join at 100 TB by
    dropping ubiquitous shingles from it, but NOT from the set sizes: a
    pair sharing only capped shingles is missed, and one sharing some
    counts them out of ``n_inter``, so its ratio reads below the exact
    one — the standard recall/cost trade; raise the cap for exactness."""
    # repartition by the shingle hash BEFORE the dedup: the (id, h) dedup
    # only needs rows clustered by a subset of its keys, so it and the
    # doc-freq aggregate, freq semi-join and self-join all reuse the one
    # h-exchange, where .distinct() paid an (id, h) exchange plus three h
    # exchanges (r06 A/B at sf0.1: 6.8 -> 3.4 s first-shot, same rows)
    shh = (_shingle_hashes(df, id_col, text_col, k=shingle_k)
           .repartition("__h").dropDuplicates())
    freq = (
        shh.groupBy("__h").agg(F.count(F.lit(1)).alias("__df"))
        .filter(F.col("__df") <= max_doc_freq)
    )
    sh2 = shh.join(freq.select("__h"), "__h")
    a = sh2.select(F.col(id_col).alias("id_a"), "__h")
    b = sh2.select(F.col(id_col).alias("id_b"), "__h")
    inter = (
        a.join(b, ["__h"])
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    return inter, shh


def jaccard_verify(df: DataFrame, candidates: DataFrame, id_col: str, text_col: str,
                   shingle_k: int = 3, threshold: float = 0.7) -> DataFrame:
    """Exact shingle-set Jaccard on candidate pairs (id_a, id_b) only:
    (id_a, id_b, jaccard) for pairs with Jaccard >= ``threshold``."""
    shh = _shingle_hashes(df, id_col, text_col, k=shingle_k).distinct()
    sa = shh.select(F.col(id_col).alias("id_a"), "__h")
    sb = shh.select(F.col(id_col).alias("__idb"), F.col("__h").alias("__shb"))
    inter = (
        candidates.join(sa, "id_a")
        .join(sb, (F.col("id_b") == F.col("__idb")) & (F.col("__h") == F.col("__shb")), "inner")
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    return _overlap_pairs(inter, (shh, id_col), (shh, id_col), threshold)


def ngram_jaccard_pairs(df: DataFrame, id_col: str, text_col: str,
                        shingle_k: int = 3, threshold: float = 0.5,
                        max_doc_freq: int = 1000) -> DataFrame:
    """Direct n-gram Jaccard near-dup pairs (id_a, id_b, jaccard) from
    the inverted index: every pair sharing a shingle below the
    ``max_doc_freq`` cap, with the cap's effect on the ratio described
    on :func:`_inverted_index_pairs`."""
    inter, shh = _inverted_index_pairs(df, id_col, text_col, shingle_k,
                                       max_doc_freq)
    return _overlap_pairs(inter, (shh, id_col), (shh, id_col), threshold)


def ngram_containment_pairs(df: DataFrame, id_col: str, text_col: str,
                            shingle_k: int = 3, threshold: float = 0.8,
                            max_doc_freq: int = 1000) -> DataFrame:
    """Asymmetric n-gram CONTAINMENT near-dup pairs: for each candidate
    pair, ``containment_a = |A∩B| / |A|`` (the fraction of A's shingle set
    that also appears in B) and symmetrically ``containment_b``; a pair is
    emitted when ``greatest(containment_a, containment_b) >= threshold``.

    Why this exists next to :func:`ngram_jaccard_pairs`: Jaccard divides by
    the UNION, so a short document embedded verbatim inside a much longer
    one (quote farms, boilerplate-wrapped articles, chapter-in-book — the
    classic web-corpus subset-duplication case) scores near
    ``|A|/|B| ≈ 0`` and is invisible to any practical Jaccard threshold,
    while its containment is 1.0. Broder's containment coefficient is the
    standard fix (reference parity: the reference ships no near-dup
    operator at all; this extends the same inverted-index family).

    Candidates come from the same inverted index as the Jaccard pairs;
    only the final ratio differs. Pairs are oriented ``id_a < id_b``; both
    directed ratios are returned so callers can pick the containing side
    (the smaller set is the one with the higher ratio)."""
    inter, shh = _inverted_index_pairs(df, id_col, text_col, shingle_k,
                                       max_doc_freq)
    return _overlap_pairs(inter, (shh, id_col), (shh, id_col), threshold,
                          containment=True)


def simhash(df: DataFrame, id_col: str, text_col: str, bits: int = 32) -> DataFrame:
    """SimHash per doc: sign of per-bit vote over word hashes.

    bit_j(doc) = 1 iff sum over distinct words of (2*bit_j(h(w)) - 1) > 0,
    with h = portable md5-derived 60-bit hash. Pure groupBy aggregation.
    Distinct-words-per-doc comes from array_distinct within the row (no
    global distinct shuffle; ids are unique per row in document tables).
    """
    # the word hash is materialized once per word before the per-bit votes
    # reference it. Measured parity with the inline form (aggregate codegen
    # already CSEs the md5 chain across the 32 votes), but the staged
    # column makes that guarantee structural instead of
    # codegen-configuration-dependent.
    words = df.select(
        F.col(id_col), F.explode(F.array_distinct(_words(text_col))).alias("w")
    ).select(F.col(id_col), word_hash(F.col("w")).alias("__h"))
    h = F.col("__h")
    votes = [
        F.sum(
            F.when(F.shiftright(h, j).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
        ).alias(f"v_{j}")
        for j in range(bits)
    ]
    agg = words.groupBy(id_col).agg(*votes)
    sig = F.lit(0).cast("bigint")
    for j in range(bits):
        sig = sig + F.when(F.col(f"v_{j}") > 0, F.lit(1 << j).cast("bigint")).otherwise(0)
    return agg.select(F.col(id_col), sig.alias("simhash"))


def simhash_near_pairs(sig: DataFrame, id_col: str, bits: int = 32,
                       max_hamming: int = 3, bands: int = 4) -> DataFrame:
    """Near-dup candidates by banded simhash (pigeonhole: pairs within
    max_hamming share at least one of `bands` exact band values), verified
    by exact Hamming distance via bit_count(xor)."""
    if bits % bands != 0:
        raise ValueError(f"bits ({bits}) must be divisible by bands ({bands})")
    if max_hamming >= bands:
        # pigeonhole completeness requires fewer differing bits than bands;
        # otherwise all differing bits can land in distinct bands and no
        # band matches exactly -> silently incomplete candidate generation
        raise ValueError(
            f"max_hamming ({max_hamming}) must be < bands ({bands}) for the "
            f"pigeonhole banding to be complete; raise bands"
        )
    per = bits // bands
    mask = (1 << per) - 1
    parts = []
    for b in range(bands):
        parts.append(
            sig.select(
                F.col(id_col),
                F.col("simhash"),
                F.concat_ws(":", F.lit(str(b)),
                            F.shiftright(F.col("simhash"), b * per).bitwiseAND(F.lit(mask)).cast("string")).alias("bucket"),
            )
        )
    buckets = parts[0]
    for p in parts[1:]:
        buckets = buckets.unionAll(p)
    a, b_ = buckets.alias("a"), buckets.alias("b")
    cand = (
        a.join(b_, (F.col("a.bucket") == F.col("b.bucket")) & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")))
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            F.bit_count(F.col("a.simhash").bitwiseXOR(F.col("b.simhash"))).alias("hamming"),
        )
        .distinct()
    )
    return cand.filter(F.col("hamming") <= max_hamming)


def dedup_near_duplicates(df: DataFrame, id_col: str, text_col: str,
                          threshold: float = 0.7, num_hashes: int = 16,
                          bands: int = 4, shingle_k: int = 3,
                          transitive: bool = False,
                          score_col: str | None = None) -> DataFrame:
    """One-call near-dedup: MinHash -> LSH candidates -> exact Jaccard
    verify -> drop near-duplicates of a surviving representative.

    Collapse policies:
    - default (one union-find-free pass): a row is dropped iff it appears as
      id_b of a confirmed pair. In an A-C, B-C path (A<B<C, A!~B) this keeps
      BOTH A and B — only directly-witnessed duplicates drop.
    - ``transitive=True``: keep exactly one doc per CONNECTED near-dup
      cluster (functions/graph.connected_components) — the aggressive
      web-dedup policy where chains collapse whole. The survivor is the min
      id, or with ``score_col`` the HIGHEST-scoring member (ties to min id;
      functions/graph.keep_best_in_cluster semantics) — curation keeps the
      best-quality copy, not an arbitrary one. ``score_col`` implies
      transitive collapse (a per-pair winner rule would be order-dependent).
      EXACT duplicates (byte-identical text) still keep the min id — their
      members are content-identical, so the quality policy is moot.
    """
    sigs = minhash_signatures(df, id_col, text_col, num_hashes, shingle_k)
    cand = minhash_lsh_candidates(sigs, id_col, num_hashes, bands)
    pairs = jaccard_verify(df, cand, id_col, text_col, shingle_k, threshold)
    # also collapse exact duplicates (empty/trivial texts have no shingles)
    exact = exact_duplicates(df, id_col, text_col)
    exact_drop = (
        df.select(F.col(id_col), doc_fingerprint(F.col(text_col)).alias("__fp"))
        .join(exact.select("fingerprint", "keep_id"), F.col("__fp") == F.col("fingerprint"))
        .filter(F.col(id_col) != F.col("keep_id"))
        .select(F.col(id_col).alias("__drop"))
    )
    if score_col is not None:
        from nail_parquet_spark.functions.graph import connected_components

        labels = connected_components(pairs.select("id_a", "id_b"))
        scored = df.select(
            F.col(id_col).alias("__sid"),
            F.coalesce(F.col(score_col).cast("double"),
                       F.lit(float("-inf"))).alias("__score"))
        member = labels.join(scored, labels["id"] == scored["__sid"])
        winners = (
            member.select("comp",
                          F.struct((-F.col("__score")).alias("ns"),
                                   F.col("id").alias("wid")).alias("__k"))
            .groupBy("comp").agg(F.min("__k").alias("__k"))
            .select(F.col("__k.wid").alias("__win")))
        near_drop = labels.join(
            winners, labels["id"] == winners["__win"], "left_anti"
        ).select(F.col("id").alias("__drop"))
    elif transitive:
        from nail_parquet_spark.functions.graph import connected_components

        labels = connected_components(pairs.select("id_a", "id_b"))
        near_drop = labels.filter(F.col("id") != F.col("comp")).select(
            F.col("id").alias("__drop")
        )
    else:
        near_drop = pairs.select(F.col("id_b").alias("__drop"))
    drops = near_drop.unionAll(exact_drop).distinct()
    return df.join(drops, df[id_col] == drops["__drop"], "left_anti")


# ---------------------------------------------------------------------------
# Exact-substring (duplicated-span) dedup — the token-window analogue of
# "Deduplicating Training Data Makes Language Models Better" (Lee et al.
# 2022): find w-token windows whose exact token sequence occurs more than
# once anywhere in the corpus, then measure or remove the covered spans.
# Reference scope note: the reference CLI has no substring-level dedup
# (its dedup is whole-row, src/commands/dedup.rs); this is a
# beyond-reference training-pipeline operator.
# ---------------------------------------------------------------------------

def _window_positions(df: DataFrame, id_col: str, text_col: str,
                      w: int) -> DataFrame:
    """(__id, pos, h): every w-token window's 1-based start position and
    its portable 60-bit hash (functions/text.word_hash over the
    space-joined window, so DuckDB reproduces the key bit-for-bit).

    Scale shape: one projection builds the window strings JVM-side
    (transform + slice + array_join — whole-stage codegen), and ONLY
    (id, pos, 8-byte hash) rows ever reach an exchange; window text never
    crosses the wire. Shuffle volume is one 16-byte row per token
    position — the same class as the line-dedup engine.

    Key contract (same as dedup_lines_global): windows are compared by
    their 60-bit md5-derived hash, not their text. A collision merges two
    distinct windows (P ~ n²/2⁶¹ — negligible below ~10⁹ windows per
    corpus; shard the corpus or raise w before that point).
    """
    if w < 2:
        raise ValueError(f"window width must be >= 2, got {w}")
    toks = df.select(F.col(id_col).alias("__id"), _words(text_col).alias("__a"))
    wins = F.when(
        F.size("__a") >= w,
        F.expr(f"transform(sequence(1, size(__a) - {w - 1}), "
               f"i -> array_join(slice(__a, i, {w}), ' '))"),
    ).otherwise(F.array().cast("array<string>"))
    return (
        toks.select("__id", F.posexplode(wins).alias("__p0", "__win"))
        .select("__id", (F.col("__p0") + 1).alias("pos"),
                word_hash(F.col("__win")).alias("h"))
    )


def _duplicate_positions(df: DataFrame, id_col: str, text_col: str,
                         w: int) -> DataFrame:
    """(__id, pos) of every window whose hash occurs >= 2 times corpus-wide
    (a doc repeating a span internally counts — both occurrences are
    duplicated). The window table is materialized ONCE via an explicit
    hash repartition on ``h`` feeding both the duplicate-count aggregate
    and the join probe: without it the two consumers' exchanges differ
    (partial-agg vs plain project), ReuseExchange cannot fire, and the
    expensive window-string + md5 build ran twice over the corpus (the
    same single-materialization pattern as _inverted_index_pairs).
    Rows are 16-byte (id, pos, hash) — the extra unaggregated shuffle
    volume is the same class as the probe side that always shuffled."""
    wins = _window_positions(df, id_col, text_col, w).repartition("h")
    dup_keys = (wins.groupBy("h").agg(F.count(F.lit(1)).alias("__c"))
                .filter(F.col("__c") > 1).select("h"))
    return wins.join(dup_keys, "h").select("__id", "pos")


def duplicate_span_stats(df: DataFrame, id_col: str, text_col: str,
                         w: int = 5) -> DataFrame:
    """Per-document duplicated-span statistics: how much of each doc sits
    inside a w-token window that occurs >= 2 times in the corpus.

    Returns one row per input doc (NULL-text docs count 0 tokens):
    (id, n_tokens, n_windows, n_dup_windows, dup_tokens, dup_token_frac)
    where dup_tokens is the size of the UNION of the covered intervals
    [pos, pos+w-1] — overlapping duplicated windows are not double-counted.

    Union-of-fixed-length-intervals needs no merge pass: with dup start
    positions sorted per doc, each contributes min(w, next_pos - pos)
    tokens (w for the last). That is a lead() over a window PARTITIONED BY
    doc id — bounded per-doc state, never a global window.
    """
    from pyspark.sql import Window

    dup = _duplicate_positions(df, id_col, text_col, w)
    nxt = F.lead("pos").over(Window.partitionBy("__id").orderBy("pos"))
    per_doc = (
        dup.select("__id", "pos", nxt.alias("__nxt"))
        .groupBy("__id")
        .agg(F.count(F.lit(1)).alias("n_dup_windows"),
             F.sum(F.least(F.lit(w), F.coalesce(F.col("__nxt") - F.col("pos"),
                                                F.lit(w)))).alias("dup_tokens"))
    )
    base = df.select(
        F.col(id_col),
        F.when(F.col(text_col).isNull(), F.lit(0))
        .otherwise(F.size(_words(text_col))).cast("bigint").alias("n_tokens"))
    return (
        base.join(per_doc, base[id_col] == per_doc["__id"], "left")
        .select(
            id_col,
            "n_tokens",
            F.greatest(F.col("n_tokens") - (w - 1), F.lit(0).cast("bigint"))
            .alias("n_windows"),
            F.coalesce(F.col("n_dup_windows"), F.lit(0).cast("bigint"))
            .alias("n_dup_windows"),
            F.coalesce(F.col("dup_tokens"), F.lit(0).cast("bigint"))
            .alias("dup_tokens"),
            F.when(F.col("n_tokens") > 0,
                   F.round(F.coalesce(F.col("dup_tokens"), F.lit(0))
                           / F.col("n_tokens"), 6))
            .otherwise(F.lit(0.0)).alias("dup_token_frac"),
        )
    )


def remove_duplicate_spans(df: DataFrame, id_col: str, text_col: str,
                           w: int = 5, keep: str = "none") -> DataFrame:
    """Drop tokens covered by a corpus-duplicated w-token window and
    rebuild each document from its surviving tokens in order.

    Pinned contract:
    - tokenization is the module rule (trim + lower + split \\s+), and the
      rebuilt text is normalized to lowercase single-space tokens — span
      arithmetic on un-normalized text would be ambiguous (the window rule
      itself is defined on normalized tokens).
    - ``keep='none'`` (default): every occurrence drops (like
      remove_boilerplate_lines — the conservative policy when no copy is
      privileged).
    - ``keep='first'``: Lee et al. 2021's keep-one rule ('Deduplicating
      Training Data Makes Language Models Better' §4.1) — each duplicated
      window elects ONE winner occurrence, the smallest (doc id, position),
      and only the loser occurrences are cut. The winner occurrence is
      never marked, but its tokens can still be cut by OTHER duplicated
      windows overlapping it — the same property the suffix-array
      formulation has (duplicated text is removed, not documents). Winner
      election is deterministic (total order on (id, pos)), so the result
      is layout-independent and oracle-attestable.
    - NULL text passes through as NULL; a fully-covered doc comes back ''.

    Scale shape: covered token positions come from exploding each dup
    window start into its w positions (id-keyed, w rows per dup window),
    the surviving-token gather is one left_anti join on (id, pos), and the
    rebuild is one id-keyed groupBy (collect_list of (pos, token) structs,
    array_sort, array_join) — bounded by document size, no global state.
    ``keep='first'`` replaces the duplicate-key semi join with ONE
    hash-keyed groupBy (count + min(struct) partial-aggregate map-side)
    and the same-key join back — the suffix array is never built.
    """
    if keep == "none":
        dup = _duplicate_positions(df, id_col, text_col, w)
    elif keep == "first":
        # same single-materialization rule as _duplicate_positions: one
        # hash repartition shared by the election aggregate and the probe
        wins = _window_positions(df, id_col, text_col, w).repartition("h")
        elect = wins.groupBy("h").agg(
            F.count(F.lit(1)).alias("__c"),
            F.min(F.struct("__id", "pos")).alias("__w"),
        )
        dup = (
            wins.join(elect.filter(F.col("__c") > 1), "h")
            .filter(~((F.col("__id") == F.col("__w.__id"))
                      & (F.col("pos") == F.col("__w.pos"))))
            .select("__id", "pos")
        )
    else:
        raise ValueError(f"keep must be 'none' or 'first', got {keep!r}")
    return _remove_covered_windows(df, id_col, text_col, dup, w)


def _remove_covered_windows(df: DataFrame, id_col: str, text_col: str,
                            win_positions: DataFrame, w: int) -> DataFrame:
    """Shared rebuild step: drop every token inside a flagged (__id, pos)
    w-token window and reassemble the docs (the remove_duplicate_spans
    contract — normalized rebuild, NULL passthrough, '' when fully
    covered). Also backs decontam.scrub_eval_spans."""
    covered = (
        win_positions.select("__id", F.explode(
            F.expr(f"sequence(pos, pos + {w - 1})")).alias("__tpos"))
        .distinct()
    )
    toks = (
        df.select(F.col(id_col).alias("__id"), _words(text_col).alias("__a"))
        .select("__id", F.posexplode("__a").alias("__p0", "__tok"))
        .select("__id", (F.col("__p0") + 1).alias("__tpos"), "__tok")
    )
    reb = (
        toks.join(covered, ["__id", "__tpos"], "left_anti")
        .groupBy("__id")
        .agg(F.array_join(
            F.expr("transform(array_sort(collect_list(struct(__tpos, __tok))),"
                   " s -> s.__tok)"), " ").alias("__new"))
    )
    return (
        df.join(reb, df[id_col] == reb["__id"], "left")
        .withColumn(text_col,
                    F.when(F.col(text_col).isNull(), F.lit(None).cast("string"))
                    .otherwise(F.coalesce(F.col("__new"), F.lit(""))))
        .drop("__id", "__new")
    )


def soft_dedup_weights(df: DataFrame, id_col: str, text_col: str,
                       near: bool = False, threshold: float = 0.7,
                       num_hashes: int = 16, bands: int = 4,
                       shingle_k: int = 3) -> DataFrame:
    """Duplicate-aware sampling weights instead of hard drops (the
    "soft dedup" policy of modern LLM corpus builders): every row keeps
    weight 1/n where n is its duplicate-cluster size, so each distinct
    text contributes expected mass 1.0 to a weighted sample
    (rows.sample_weighted / corpus mixing) while no document is lost.

    Default clusters are EXACT (byte-identical text via doc_fingerprint,
    one 16-byte-keyed groupBy + one fingerprint-keyed join — the same
    shuffle shape as dedup_exact). ``near=True`` additionally unions
    MinHash-LSH-verified near-duplicate edges and weights by CONNECTED
    cluster size (functions/graph.connected_components) — the transitive
    policy, since per-pair weights would double-count chains.

    NULL texts keep weight 1.0: absent content is not evidence of
    duplication (same contract as dedup_exact). Returns df +
    (dup_count bigint, weight double).

    Reference scope note: the reference CLI only drops duplicates
    (src/commands/dedup.rs); weighting is a beyond-reference
    training-pipeline operator.
    """
    fp = doc_fingerprint(F.col(text_col))
    if not near:
        counts = (
            df.select(fp.alias("__fp"))
            .filter(F.col("__fp").isNotNull())
            .groupBy("__fp")
            .agg(F.count(F.lit(1)).alias("__n"))
        )
        out = df.join(counts, fp == F.col("__fp"), "left")
        return (
            out.select(
                *df.columns,
                F.coalesce(F.col("__n"), F.lit(1)).alias("dup_count"),
                (F.lit(1.0) / F.coalesce(F.col("__n"), F.lit(1))).alias("weight"),
            )
        )
    from nail_parquet_spark.functions.graph import connected_components

    sigs = minhash_signatures(df, id_col, text_col, num_hashes, shingle_k)
    cand = minhash_lsh_candidates(sigs, id_col, num_hashes, bands)
    near_pairs = jaccard_verify(df, cand, id_col, text_col, shingle_k,
                                threshold).select("id_a", "id_b")
    exact = exact_duplicates(df, id_col, text_col)
    exact_pairs = (
        df.select(F.col(id_col).alias("id_b"), fp.alias("__fp"))
        .join(exact.select("fingerprint", F.col("keep_id").alias("id_a")),
              F.col("__fp") == F.col("fingerprint"))
        .filter(F.col("id_a") != F.col("id_b"))
        .select("id_a", "id_b")
    )
    labels = connected_components(near_pairs.unionAll(exact_pairs))
    sizes = labels.groupBy("comp").agg(F.count(F.lit(1)).alias("__n"))
    member = labels.join(sizes, "comp").select(
        F.col("id").alias("__mid"), "__n")
    out = df.join(member, df[id_col] == F.col("__mid"), "left")
    return out.select(
        *df.columns,
        F.coalesce(F.col("__n"), F.lit(1)).alias("dup_count"),
        (F.lit(1.0) / F.coalesce(F.col("__n"), F.lit(1))).alias("weight"),
    )
