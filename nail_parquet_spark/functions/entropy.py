"""Per-document Shannon-entropy quality signals in ONE vectorized Arrow pass.

Character entropy (over Unicode code points) and word entropy (over
whitespace-split tokens) are classic cheap compressibility proxies for
training-data quality: machine-generated keyword spam, character-flood
pages, and template boilerplate sit at the entropy extremes that
length/punctuation rules (functions/quality.py) miss. The reference ships
no text-analysis operators at all (nail-parquet is a tabular toolkit —
`src/utils/stats.rs` stops at numeric moments); this extends the engine's
LLM-pipeline suite alongside the Gopher signals.

Execution model — same family as functions/quality_arrow.py: one
``mapInArrow`` pass over the raw UTF-8 buffers with numpy-only algebra (no
per-row Python anywhere — per-(doc,symbol) histograms come from ONE
``np.unique``/lexsort over composite keys, per-doc reductions from
``np.add.at`` segment sums), an Exchange-free narrow plan, and the exact
oracle contract pinned below. At 100 TB this is a single scan with ~8k-doc
cache-resident batches and zero shuffle.

Pinned contract (DuckDB-oracle-exact, property-tested vs a pure-python
model in tests/test_entropy.py):

- ``n_chars``/``char_entropy``: over the CODE POINTS of the raw text
  (DuckDB ``string_split(text, '')`` splits to code points — verified:
  e + COMBINING ACUTE yields two elements). Empty text => 0 chars,
  entropy 0.0 (DuckDB's ``string_split('','')`` gives ``['']`` whose
  1-row group entropy is 0.0, so both sides agree).
- ``n_words``/``word_entropy``: over the tokens of
  ``regexp_split_to_array(trim(text), '\\s+')`` under RE2/DuckDB
  semantics, INCLUDING the empty tokens a leading/trailing separator
  emits: ``trim`` strips U+0020 only; ``\\s`` is {TAB LF FF CR SP} —
  RE2 excludes VT (U+000B), diverging from Java's ``\\s`` on that one
  vanishingly-rare byte (documented trade: the oracle IS the spec here);
  ``''`` splits to ``['']`` (one empty token, entropy 0.0).
- NULL text => all four columns NULL.
- entropy = -sum(p_i * log2(p_i)) computed as log2(N) - sum(c*log2(c))/N;
  both sides round to 6 decimals with HALF_UP (Spark ``F.round`` /
  DuckDB ``round``), the repo-wide float contract.

Word identity is a 64-bit polynomial rolling hash of the token's UTF-8
bytes (prefix-sum + modular-inverse-power trick, fully vectorized —
tokens are never materialized as Python strings). Two DISTINCT tokens in
the SAME document colliding mod 2^64 would merge two histogram buckets;
probability ~2^-64 per pair, the same accepted trade as the md5-60-bit
shingle keys in functions/dedup._shingle_hashes.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame, functions as F

# RE2/DuckDB \s — NOT Java's: VT (0x0B) excluded (see module docstring).
_RE2_WS = (0x09, 0x0A, 0x0C, 0x0D, 0x20)

_P = np.uint64(0x100000001B3)  # FNV-1a prime (odd => invertible mod 2^64)
_PINV = np.uint64(pow(0x100000001B3, -1, 1 << 64))

# bytes-per-char LUT keyed by UTF-8 lead byte (invalid leads degrade to 1;
# the kernel only ever sees valid UTF-8 from Spark/Arrow)
_NBYTES = np.ones(256, dtype=np.int64)
_NBYTES[0xC0:0xE0] = 2
_NBYTES[0xE0:0xF0] = 3
_NBYTES[0xF0:0x100] = 4

_WS_LUT = np.zeros(256, dtype=bool)
for _b in _RE2_WS:
    _WS_LUT[_b] = True


def _buffers_of(texts) -> tuple[int, np.ndarray, np.ndarray, np.ndarray]:
    """(n, data, doc_starts, doc_ends) over the flat UTF-8 buffer."""
    arr = texts.combine_chunks() if isinstance(texts, pa.ChunkedArray) else texts
    arr = arr.cast(pa.large_string())
    n = len(arr)
    bufs = arr.buffers()
    off = np.frombuffer(bufs[1], np.int64, count=n + 1, offset=8 * arr.offset)
    base = off[0]
    nbytes = int(off[-1] - base)
    data = (np.frombuffer(bufs[2], np.uint8, count=nbytes, offset=base)
            if nbytes else np.zeros(0, dtype=np.uint8))
    ds = (off[:-1] - base).astype(np.int64)
    de = (off[1:] - base).astype(np.int64)
    return n, data, ds, de


def _codepoints(data: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """(lead_positions, code_point_values) — vectorized UTF-8 decode."""
    lead_mask = (data & 0xC0) != 0x80
    li = np.flatnonzero(lead_mask)
    lb = data[li]
    nb = _NBYTES[lb]
    pad = np.concatenate([data, np.zeros(3, dtype=np.uint8)])
    b1 = pad[li + 1].astype(np.int32) & 0x3F
    b2 = pad[li + 2].astype(np.int32) & 0x3F
    b3 = pad[li + 3].astype(np.int32) & 0x3F
    cp = lb.astype(np.int32)
    m2 = nb == 2
    cp[m2] = ((lb[m2].astype(np.int32) & 0x1F) << 6) | b1[m2]
    m3 = nb == 3
    cp[m3] = ((lb[m3].astype(np.int32) & 0x0F) << 12) | (b1[m3] << 6) | b2[m3]
    m4 = nb == 4
    cp[m4] = ((lb[m4].astype(np.int32) & 0x07) << 18) | (b1[m4] << 12) \
        | (b2[m4] << 6) | b3[m4]
    return li, cp


def _entropy_from_groups(rows: np.ndarray, counts: np.ndarray, totals: np.ndarray,
                         n: int) -> np.ndarray:
    """entropy[r] = log2(N_r) - sum_r(c*log2(c))/N_r via one segment sum."""
    acc = np.zeros(n, dtype=np.float64)
    np.add.at(acc, rows, counts * np.log2(counts))
    nz = np.maximum(totals, 1).astype(np.float64)
    ent = np.log2(nz) - acc / nz
    ent[totals == 0] = 0.0
    # -0.0 and tiny negative residue from float cancellation -> clean 0.0
    ent[np.abs(ent) < 1e-12] = 0.0
    return ent


def _trim_bounds(data: np.ndarray, ds: np.ndarray, de: np.ndarray):
    """Per-doc bounds after stripping U+0020 (only) from both ends."""
    q = np.flatnonzero(data != 0x20)
    if not len(q):
        # every byte in the batch is U+0020: every doc trims to empty
        return ds, ds.copy()
    fi = np.searchsorted(q, ds)
    li = np.searchsorted(q, de) - 1
    qf = q[np.minimum(fi, len(q) - 1)]
    has = (fi < len(q)) & (fi <= li) & (qf < de)
    ds2 = np.where(has, qf, ds)
    de2 = np.where(has, q[np.maximum(li, 0)] + 1, ds2)
    return ds2, de2


def _entropy_of_batch(texts) -> dict[str, np.ndarray]:
    """All four signal arrays for one arrow string chunk (null rows emit
    garbage values — the caller masks them)."""
    n, data, ds, de = _buffers_of(texts)
    out = {
        "n_chars": np.zeros(n, dtype=np.int64),
        "char_entropy": np.zeros(n, dtype=np.float64),
        "n_words": np.ones(n, dtype=np.int64),  # '' splits to ['']
        "word_entropy": np.zeros(n, dtype=np.float64),
    }
    if n == 0:
        return out
    if len(data) == 0:
        return out

    # ---- characters ------------------------------------------------------
    li, cp = _codepoints(data)
    crow = np.searchsorted(de, li, "right").astype(np.int64)
    n_chars = np.bincount(crow, minlength=n).astype(np.int64)
    key = (crow.astype(np.uint64) << np.uint64(21)) | cp.astype(np.uint64)
    uk, cnt = np.unique(key, return_counts=True)
    urow = (uk >> np.uint64(21)).astype(np.int64)
    out["n_chars"] = n_chars
    out["char_entropy"] = _entropy_from_groups(urow, cnt, n_chars, n)

    # ---- words -----------------------------------------------------------
    ds2, de2 = _trim_bounds(data, ds, de)
    nonempty = de2 > ds2
    wsm = _WS_LUT[data]
    nonws = ~wsm
    # token-run starts with doc-boundary-aware "previous byte is ws"
    prevws = np.empty(len(data) + 1, dtype=bool)
    prevws[0] = True
    prevws[1:] = wsm
    prevws[ds2[nonempty]] = True
    starts_mask = nonws & prevws[:-1]
    nextws = np.empty(len(data) + 1, dtype=bool)
    nextws[-1] = True
    nextws[:-1] = wsm
    nextws[de2[nonempty]] = True
    ends_mask = nonws & nextws[1:]
    # every nonws byte lies inside its doc's trimmed bounds (trim removes
    # only 0x20, which is ws), so the global masks need no bounds filter
    sp = np.flatnonzero(starts_mask)
    ep = np.flatnonzero(ends_mask)
    srow = np.searchsorted(de, sp, "right").astype(np.int64)
    # sp/ep are paired in order within each doc (runs cannot straddle docs)
    # token hash: prefix polynomial sums + inverse powers
    pw = np.cumprod(np.full(len(data), _P, dtype=np.uint64), dtype=np.uint64)
    pw = np.concatenate([np.ones(1, dtype=np.uint64), pw])
    pwinv = np.cumprod(np.full(len(data), _PINV, dtype=np.uint64),
                       dtype=np.uint64)
    pwinv = np.concatenate([np.ones(1, dtype=np.uint64), pwinv])
    h = np.zeros(len(data) + 1, dtype=np.uint64)
    np.cumsum(data.astype(np.uint64) * pw[:-1], dtype=np.uint64, out=h[1:])
    tok_h = (h[ep + 1] - h[sp]) * pwinv[sp]
    tok_row = srow
    # empty tokens: one leading / one trailing when the trimmed text starts/
    # ends with (non-space) whitespace; one single empty token for docs that
    # are empty after trim. Hash of the empty token is 0 by construction.
    lead_empty = nonempty & _WS_LUT[data[np.minimum(ds2, len(data) - 1)]]
    trail_empty = nonempty & _WS_LUT[data[np.maximum(de2 - 1, 0)]]
    empty_doc = ~nonempty
    extra_rows = np.concatenate([
        np.flatnonzero(lead_empty), np.flatnonzero(trail_empty),
        np.flatnonzero(empty_doc),
    ])
    all_rows = np.concatenate([tok_row, extra_rows])
    all_h = np.concatenate([tok_h, np.zeros(len(extra_rows), dtype=np.uint64)])
    n_words = np.bincount(all_rows, minlength=n).astype(np.int64)
    # per-(doc, token) counts: lexsort then run-length the boundaries
    order = np.lexsort((all_h, all_rows))
    rs, hs = all_rows[order], all_h[order]
    if len(rs):
        newgrp = np.empty(len(rs), dtype=bool)
        newgrp[0] = True
        newgrp[1:] = (rs[1:] != rs[:-1]) | (hs[1:] != hs[:-1])
        gidx = np.flatnonzero(newgrp)
        gcnt = np.diff(np.concatenate([gidx, [len(rs)]]))
        grow = rs[gidx]
    else:
        gcnt = np.zeros(0, dtype=np.int64)
        grow = np.zeros(0, dtype=np.int64)
    out["n_words"] = n_words
    out["word_entropy"] = _entropy_from_groups(grow, gcnt, n_words, n)
    return out


def entropy_columns(df: DataFrame, text_col: str) -> DataFrame:
    """ALL input columns + (char_entropy, word_entropy) appended in one
    mapInArrow pass — the stream-shaped form (no id projection, no join
    back): works identically on batch and streaming DataFrames. Entropies
    are rounded to 6 decimals in the closing projection, the same values
    :func:`entropy_stats` reports, so threshold verdicts agree between the
    batch and streaming gates. NULL text => NULL entropies."""
    cols = df.columns
    if text_col not in cols:
        raise ValueError(f"column {text_col!r} not in {cols}")
    ti = cols.index(text_col)
    chunk = 8192

    def run(batches):
        for batch in batches:
            for off in range(0, batch.num_rows, chunk):
                part = batch.slice(off, chunk)
                texts = part.column(ti)
                sig = _entropy_of_batch(texts)
                valid = (np.asarray(texts.is_valid())
                         if texts.null_count else None)
                mask = None if valid is None else ~valid
                arrays = list(part.columns)
                arrays.append(pa.array(sig["char_entropy"], pa.float64(),
                                       mask=mask))
                arrays.append(pa.array(sig["word_entropy"], pa.float64(),
                                       mask=mask))
                yield pa.record_batch(
                    arrays, names=cols + ["char_entropy", "word_entropy"])

    ddl = ", ".join(f"`{f.name}` {f.dataType.simpleString()}"
                    for f in df.schema.fields)
    ddl += ", char_entropy double, word_entropy double"
    out = df.mapInArrow(run, schema=ddl)
    return out.withColumn("char_entropy", F.round("char_entropy", 6)) \
              .withColumn("word_entropy", F.round("word_entropy", 6))


def entropy_keep_expr(rules: dict) -> F.Column:
    """The keep predicate over (char_entropy, word_entropy) columns for an
    entropy-rule dict (min/max_char_entropy, min/max_word_entropy). NULL
    entropies (NULL text) KEEP — the gate only drops provably-bad docs,
    matching the batch curate stage's anti-join semantics."""
    allowed = {"min_char_entropy", "max_char_entropy",
               "min_word_entropy", "max_word_entropy"}
    bad_keys = set(rules) - allowed
    if bad_keys:
        raise ValueError(f"unknown entropy rules: {sorted(bad_keys)}")
    keep = F.lit(True)
    if "min_char_entropy" in rules:
        keep &= F.col("char_entropy") >= rules["min_char_entropy"]
    if "max_char_entropy" in rules:
        keep &= F.col("char_entropy") <= rules["max_char_entropy"]
    if "min_word_entropy" in rules:
        keep &= F.col("word_entropy") >= rules["min_word_entropy"]
    if "max_word_entropy" in rules:
        keep &= F.col("word_entropy") <= rules["max_word_entropy"]
    return F.coalesce(keep, F.lit(True))


def entropy_stats(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(id, n_chars, char_entropy, n_words, word_entropy) — see module
    docstring for the pinned contract. One Exchange-free mapInArrow scan;
    entropies rounded to 6 decimals in the closing Catalyst projection
    (HALF_UP, the repo-wide float contract)."""
    src = df.select(id_col, text_col)
    id_field = src.schema[id_col]
    chunk = 8192

    def run(batches):
        for batch in batches:
            for off in range(0, batch.num_rows, chunk):
                part = batch.slice(off, chunk)
                texts = part.column(1)
                sig = _entropy_of_batch(texts)
                valid = (np.asarray(texts.is_valid())
                         if texts.null_count else None)
                mask = None if valid is None else ~valid
                arrays = [part.column(0)]
                for k, typ in (("n_chars", pa.int64()),
                               ("char_entropy", pa.float64()),
                               ("n_words", pa.int64()),
                               ("word_entropy", pa.float64())):
                    arrays.append(pa.array(sig[k], typ, mask=mask))
                yield pa.record_batch(
                    arrays,
                    names=[id_col, "n_chars", "char_entropy",
                           "n_words", "word_entropy"])

    ddl = (f"`{id_col}` {id_field.dataType.simpleString()}, n_chars bigint, "
           "char_entropy double, n_words bigint, word_entropy double")
    raw = src.mapInArrow(run, schema=ddl)
    return raw.select(
        F.col(id_col),
        F.col("n_chars"),
        F.round("char_entropy", 6).alias("char_entropy"),
        F.col("n_words"),
        F.round("word_entropy", 6).alias("word_entropy"),
    )
