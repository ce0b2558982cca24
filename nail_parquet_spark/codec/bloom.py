"""Per-block bloom filters: equality, IN, prefix and substring pushdown.

Zone maps (:mod:`codec.zonemap`) prune range predicates well, but an
equality probe on a high-cardinality column (``url = '...'``, ``doc_id =
42``) rarely prunes anything — nearly every block's [min,max] spans the
probe value. The parquet format solved this with optional split-block bloom
filters; this is the block-engine analogue: an opt-in, per-(column, block)
bloom bitmap stored in the ``bloom`` column of the blocks table, consulted
for ``=``, ``in``, ``prefix`` and ``contains`` predicates.

- Bitmaps never ride with the payload, and a Spark read never sends them
  to the driver. The driver hashes the probe keys once
  (:func:`probe_lanes`), and one numpy judge (:func:`bloom_judge`, per
  batch :func:`bloom_verdicts`) tests them against a whole Arrow column
  of bitmaps. Both reads of the block index (:mod:`codec.blockindex`)
  call it: the driver on each file it reads, a Spark read in one
  ``mapInArrow`` pass over the metadata rows.
- Each block is probed with its own stored ``k``, prefix length P and
  n-gram length N, so tables mixing bloom specs need no discovery pass.
- :func:`bloom_might_contain` probes one bitmap in plain Python; it is the
  judge's test oracle.
- Opt-in per column (``encode_table(bloom_columns=[...])``): a bloom on a
  low-cardinality or never-probed column is pure write amplification.

Layout (bytes, big-endian): [0]=k | flags, [1:5]=m_bits, [5:]=bitmap, then
the optional P and N tail bytes. ``m_bits`` is per-block (sized to the
block's distinct count), which is why it lives in the bitmap header and
not the block header JSON.

Hashing: md5(value-bytes) -> two 57-bit lanes, double hashing
pos_i = (h1 + i*h2) mod m_bits; the 57-bit lanes keep every numerator
inside an int64. Value canonicalization is type-pinned: strings hash their
UTF-8 bytes, integers/booleans hash str(int(v)) — the probe side must (and
does) canonicalize identically.
"""

from __future__ import annotations

import hashlib
import math

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc

from nail_parquet_spark.codec.zonemap import IN_PRUNE_CAP as IN_PROBE_CAP

DEFAULT_BITS_PER_KEY = 10
DEFAULT_K = 7
_LANE_MASK = (1 << 57) - 1
# prefix-key support: when a bloom is built with ``prefix_len=P``, the
# first-P-byte prefix of every distinct value is ALSO inserted (tagged so
# prefix keys share the bitmap without inflating the eq-probe FPP), byte 0
# carries this flag, and P rides as the trailing byte — the bitmap itself
# stays at offset 5, so pre-prefix bitmaps and the eq probe layout are
# unchanged. A prefix predicate with len(prefix) >= P then probes the
# TRUNCATED prefix: any value starting with the full query prefix also
# starts with its first P bytes, so truncation is sound (false positives
# only, never false negatives).
_PREFIX_FLAG = 0x80
_PREFIX_TAG = b"\x01p\x01"
# n-gram-key support: with ``ngram_len=N``, every length-N byte window of
# every distinct value is ALSO inserted (tagged) — a ``contains`` predicate
# with len(query) >= N then requires ALL of the query's own N-grams, each a
# substring of any containing value, so ANDing their probes prunes blocks
# soundly (false positives only). Flag 0x40 in byte 0; N rides as a
# trailing byte AFTER the prefix byte when both are present (pinned order:
# [P if prefix][N if ngram]) — the bitmap stays at offset 5 regardless.
_NGRAM_FLAG = 0x40
_NGRAM_TAG = b"\x01n\x01"
_FLAGS_MASK = _PREFIX_FLAG | _NGRAM_FLAG
_NGRAM_PROBE_CAP = 8  # AND at most this many evenly-strided query grams


def bloom_lanes(value_bytes: bytes) -> tuple[int, int]:
    d = hashlib.md5(value_bytes).digest()
    h1 = int.from_bytes(d[:8], "big") & _LANE_MASK
    h2 = (int.from_bytes(d[8:], "big") & _LANE_MASK) | 1
    return h1, h2


def canonical_bytes(value, kind: str) -> bytes | None:
    """Type-pinned canonical byte string for hashing; None = this value
    cannot participate (no bloom prune, never wrong)."""
    if value is None:
        return None
    if kind == "str":
        return str(value).encode("utf-8")
    if kind == "int":
        if isinstance(value, float) and not (
                value.is_integer() and abs(value) < 2 ** 53):
            # an int column compares with a float as a double: beyond
            # 2^53 several ints equal one double, so no key stands for it
            return None
        try:
            return str(int(value)).encode("ascii")
        except (TypeError, ValueError):
            return None
    return None  # float/timestamp/binary: no bloom


def literal_kind(value) -> str | None:
    """The bloom kind a literal (or IN list) probes as: ``str`` for
    strings, ``int`` for ints, bools and floats. A probe only applies to
    a column whose header kind is the same: the residual filter casts
    across kinds, which a hashed key cannot follow."""
    if isinstance(value, (list, tuple)):
        kinds = {literal_kind(v) for v in value}
        return kinds.pop() if len(kinds) == 1 else None
    if isinstance(value, str):
        return "str"
    if isinstance(value, (int, float)):
        return "int"
    return None


def bloom_build(arr: pa.Array, bits_per_key: int = DEFAULT_BITS_PER_KEY,
                k: int = DEFAULT_K, prefix_len: int | None = None,
                ngram_len: int | None = None) -> bytes | None:
    """Build one block's bloom bitmap over the DISTINCT non-null values of
    ``arr``. Returns None for unsupported types or empty input (an all-null
    block gets an empty-domain bloom so equality prunes it).

    ``prefix_len``: str columns only — also insert the tagged first-P-byte
    prefix of every distinct value, enabling ``prefix`` pushdown for query
    prefixes of at least P bytes. URLs share hosts, so the extra key count
    is typically a small fraction of the value count; sizing uses the
    ACTUAL total inserted keys either way.

    ``ngram_len``: str columns only — also insert every tagged length-N
    byte window of every distinct value, enabling ``contains`` (substring)
    pushdown for queries of at least N bytes. Write amplification is real
    (~len(value)-N+1 keys per distinct value; the bitmap is sized to the
    actual key count, so expect ~value-bytes x bits_per_key/8 of bloom per
    block) — opt in only on the column you grep at scale. Values shorter
    than N insert no gram keys (they cannot contain such a query)."""
    from nail_parquet_spark.codec.kernels import kind_of

    kind = kind_of(arr.type)
    if kind not in ("str", "int"):
        return None
    if prefix_len is not None and (kind != "str" or not 1 <= prefix_len <= 255):
        raise ValueError(
            f"prefix_len must be 1..255 on a string column, got {prefix_len!r} "
            f"on kind {kind!r}"
        )
    if ngram_len is not None and (kind != "str" or not 2 <= ngram_len <= 255):
        raise ValueError(
            f"ngram_len must be 2..255 on a string column, got {ngram_len!r} "
            f"on kind {kind!r}"
        )
    distinct = pc.unique(arr.drop_null())
    keys = [canonical_bytes(v, kind) for v in distinct.to_pylist()]
    vals_only = list(keys)
    if prefix_len:
        keys.extend({_PREFIX_TAG + b[:prefix_len] for b in vals_only})
    if ngram_len:
        keys.extend({_NGRAM_TAG + b[i:i + ngram_len]
                     for b in vals_only
                     for i in range(len(b) - ngram_len + 1)})
    n = len(keys)
    m_bits = max(64, ((bits_per_key * max(n, 1) + 7) // 8) * 8)
    bits = np.zeros(m_bits // 8, dtype=np.uint8)
    if n:
        # bloom_lanes for every key at once: the md5 digests as big-endian
        # (h1, h2) word pairs masked to 57 bits; k < 64 (byte 0 keeps the
        # two flag bits), so h1 + (k-1)*h2 < 2^63 never overflows an int64
        digests = b"".join(hashlib.md5(b).digest() for b in keys)
        lanes = (np.frombuffer(digests, dtype=">u8").reshape(n, 2)
                 & np.uint64(_LANE_MASK)).astype(np.int64)
        h1, h2 = lanes[:, :1], lanes[:, 1:] | 1
        pos = _positions(h1, h2, np.arange(k, dtype=np.int64), m_bits).ravel()
        np.bitwise_or.at(bits, pos >> 3, (1 << (pos & 7)).astype(np.uint8))
    flag = (_PREFIX_FLAG if prefix_len else 0) | (_NGRAM_FLAG if ngram_len else 0)
    tail = (bytes([prefix_len]) if prefix_len else b"") + \
        (bytes([ngram_len]) if ngram_len else b"")
    return bytes([k | flag]) + int(m_bits).to_bytes(4, "big") + bits.tobytes() + tail


def _positions(h1, h2, j, m_bits):
    """Bit ``j`` of the key with lanes ``(h1, h2)``: ``(h1 + j*h2) mod
    m_bits``, broadcast over numpy operands. 57-bit lanes and ``j < 63``
    keep every sum inside an int64."""
    return (h1 + j * h2) % m_bits


def bloom_prefix_len_of(bloom: bytes) -> int | None:
    """The prefix-key length a bitmap was built with, or None."""
    if bloom is None or not bloom[0] & _PREFIX_FLAG:
        return None
    return bloom[-2] if bloom[0] & _NGRAM_FLAG else bloom[-1]


def bloom_ngram_len_of(bloom: bytes) -> int | None:
    """The n-gram-key length a bitmap was built with, or None."""
    if bloom is None or not bloom[0] & _NGRAM_FLAG:
        return None
    return bloom[-1]


def bloom_might_contain(bloom: bytes, value, kind: str,
                        op: str = "=") -> bool:
    """Membership probe of one bitmap in plain Python: the oracle of
    :func:`bloom_judge`.

    ``op='prefix'``: probes the tagged truncated prefix; returns True
    (no prune) when the bitmap carries no prefix keys or the query prefix
    is shorter than the stored P. ``op='contains'`` likewise with the
    n-gram keys and N."""
    if bloom is None:
        return True
    b = canonical_bytes(value, kind)
    if b is None:
        return True
    if op == "prefix":
        plen = bloom_prefix_len_of(bloom)
        if plen is None or len(b) < plen:
            return True
        b = _PREFIX_TAG + b[:plen]
    elif op == "contains":
        nlen = bloom_ngram_len_of(bloom)
        if nlen is None or len(b) < nlen:
            return True
        grams = [b[i:i + nlen] for i in range(len(b) - nlen + 1)]
        return all(_probe_raw(bloom, _NGRAM_TAG + g) for g in grams)
    return _probe_raw(bloom, b)


def _probe_raw(bloom: bytes, key: bytes) -> bool:
    """Raw key membership probe against one bitmap (no canonicalization)."""
    return _lanes_set(bloom, *bloom_lanes(key))


def _lanes_set(bloom: bytes, h1: int, h2: int) -> bool:
    """Are all ``k`` bits of the key with lanes ``(h1, h2)`` set?"""
    k = bloom[0] & ~_FLAGS_MASK
    m_bits = int.from_bytes(bloom[1:5], "big")
    for j in range(k):
        p = (h1 + j * h2) % m_bits
        if not (bloom[5 + (p >> 3)] >> (p & 7)) & 1:
            return False
    return True


def _strided_grams(b: bytes, n: int, cap: int = _NGRAM_PROBE_CAP) -> list:
    """Up to ``cap`` evenly-strided length-n windows of ``b`` (pinned:
    indices i*(g-1)//(cap-1) for g windows — always includes the first and
    last gram). ANDing a SUBSET of the necessary grams is still sound."""
    g = len(b) - n + 1
    if g <= 0:
        return []
    if g <= cap:
        idx = range(g)
    else:
        idx = sorted({i * (g - 1) // (cap - 1) for i in range(cap)})
    return [b[i:i + n] for i in idx]


def _probe_alternatives(op: str, value, kind: str):
    """The probe of ``column op value`` as alternatives ``(n, keys)``: a
    block whose stored key length is n (0 for plain value keys, P for
    prefix keys, N for n-gram keys) may hold a match iff every key of some
    alternative with its n is present. None when the predicate cannot be
    probed."""
    if op in ("=", "=="):
        vb = canonical_bytes(value, kind)
        return None if vb is None else [(0, [vb])]
    if op == "in":
        vals = list(value)
        if not vals or len(vals) > IN_PROBE_CAP:
            return None
        keys = [canonical_bytes(v, kind) for v in vals]
        return None if None in keys else [(0, [k]) for k in keys]
    if kind != "str" or op not in ("prefix", "contains"):
        return None
    vb = canonical_bytes(value, "str")
    if op == "prefix":
        alts = [(p, [_PREFIX_TAG + vb[:p]]) for p in range(1, min(len(vb), 255) + 1)]
    else:
        alts = [(n, [_NGRAM_TAG + g for g in _strided_grams(vb, n)])
                for n in range(2, min(len(vb), 255) + 1)]
    return alts or None


def probe_lanes(op: str, value, kind: str):
    """:func:`_probe_alternatives` with every key hashed to its lanes:
    ``[(n, [(h1, h2), ...]), ...]``, or None when the predicate cannot be
    probed. :func:`bloom_judge` reads these."""
    alts = _probe_alternatives(op, value, kind)
    if alts is None:
        return None
    return [(n, [bloom_lanes(k) for k in keys]) for n, keys in alts]


def bloom_judge(bitmaps: pa.Array, op: str, lanes,
                rows: np.ndarray | bool = True) -> np.ndarray:
    """One verdict per bitmap of ``bitmaps`` (a binary Arrow array): may
    its block hold a row matching the predicate whose :func:`probe_lanes`
    are ``lanes``? ``rows`` (a boolean mask) limits the judging to those
    bitmaps; the others read True. Each bitmap is judged with its own
    stored ``k``, ``m_bits`` and P/N tail byte: only the alternatives whose
    n equals the bitmap's own key length for ``op`` apply, and with none
    the block may match. A NULL bitmap is True, and so is a malformed one
    (``k`` or ``m_bits`` 0, or a length other than its header and tail
    give).

    The verdict is :func:`bloom_might_contain`'s, except that a
    ``contains`` query with more than ``_NGRAM_PROBE_CAP`` grams probes a
    strided subset, which may keep a block the oracle drops — never the
    reverse. Each bit of the probe keys is one numpy pass over every
    (bitmap, alternative) pair still standing."""
    bitmaps = bitmaps.cast(pa.large_binary())
    n = len(bitmaps)
    _, offsets, values = bitmaps.buffers()
    off = np.frombuffer(offsets, np.int64)[bitmaps.offset:bitmaps.offset + n + 1]
    data = np.frombuffer(values, np.uint8)
    start, size = off[:-1], np.diff(off)
    ok = bitmaps.is_valid().to_numpy(zero_copy_only=False) & (size >= 5) & rows
    head = np.zeros((n, 5), np.int64)
    head[ok] = data[start[ok, None] + np.arange(5)]
    k = head[:, 0] & ~_FLAGS_MASK
    has_p, has_n = (head[:, 0] & _PREFIX_FLAG) > 0, (head[:, 0] & _NGRAM_FLAG) > 0
    m_bits = head[:, 1:] @ np.array([1 << 24, 1 << 16, 1 << 8, 1])
    ok &= (k > 0) & (m_bits > 0) & (size == 5 + (m_bits + 7) // 8 + has_p + has_n)
    # the key length a block stores for op: 0 (the plain value keys) for
    # = and in, else its P or N tail byte (P rides before N when both are
    # present), -1 without one
    own = np.full(n, -1 if op in ("prefix", "contains") else 0)
    tail = ok & {"prefix": has_p, "contains": has_n}.get(op, False)
    own[tail] = data[off[1:][tail] - 1 - (has_n[tail] if op == "prefix" else 0)]
    # a NULL or malformed bitmap, or one no alternative applies to, may match
    hit = ~ok | ~np.isin(own, [a for a, _ in lanes])
    for a in np.unique(own[~hit]):
        group = np.flatnonzero(~hit & (own == a))
        alts = [keys for n_a, keys in lanes if n_a == a]
        # (bitmap, alternative) pairs, narrowed key by key and bit by bit:
        # a pair drops out at the first unset bit of one of its keys
        r, p = np.repeat(group, len(alts)), np.tile(np.arange(len(alts)), group.size)
        for t in range(max(map(len, alts))):
            # an alternative with fewer keys tests its last one again
            h1, h2 = np.array([keys[min(t, len(keys) - 1)] for keys in alts]).T
            for j in range(k[group].max()):
                pos = _positions(h1[p], h2[p], j, m_bits[r])
                bit = (data[start[r] + 5 + (pos >> 3)] >> (pos & 7)) & 1
                keep = (bit > 0) | (j >= k[r])
                r, p = r[keep], p[keep]
        hit[r] = True
    return hit


def bloom_verdicts(batch, probes):
    """``batch`` (a record batch of blocks-table rows) with its ``bloom``
    column replaced by one boolean column ``__bloom<i>`` per
    probe ``(column, op, lanes)``: :func:`bloom_judge` on the rows of that
    column, NULL on every other row. Without a ``bloom`` column every
    bitmap reads as NULL. Both block-index reads call this."""
    has_bloom = "bloom" in batch.schema.names
    bitmaps = (batch.column("bloom") if has_bloom
               else pa.nulls(batch.num_rows, pa.binary()))
    for i, (c, op, lanes) in enumerate(probes):
        sel = np.asarray(pc.fill_null(pc.equal(batch.column("column"), c), False))
        v = bloom_judge(bitmaps, op, lanes, rows=sel)
        batch = batch.append_column(f"__bloom{i}", pa.array(v, mask=~sel))
    return batch.drop_columns(["bloom"]) if has_bloom else batch


def parse_bloom_spec(specs) -> dict[str, "tuple[int | None, int | None]"]:
    """Normalize bloom column specs to {column: (prefix_len, ngram_len)}.

    Accepts a dict of {col: (P, N)} / {col: P} / {col: None} (normalized),
    or an iterable of strings — the CLI's ``--bloom-columns`` grammar:
    "col" (equality only), "col:<P>" (+prefix keys), "col:g<N>" (+n-gram
    keys for ``contains``), "col:<P>:g<N>" (both)."""
    if specs is None:
        return {}
    out: dict[str, tuple[int | None, int | None]] = {}
    if isinstance(specs, dict):
        for name, v in specs.items():
            if v is None:
                out[name] = (None, None)
            elif isinstance(v, tuple):
                out[name] = (v[0], v[1])
            else:
                out[name] = (int(v), None)
        return out
    for s in specs:
        parts = s.split(":")
        name, prefix, ngram = parts[0], None, None
        for p in parts[1:]:
            if p.startswith("g"):
                ngram = int(p[1:])
            else:
                prefix = int(p)
        out[name] = (prefix, ngram)
    return out


def expected_fpp(n_keys: int, m_bits: int, k: int = DEFAULT_K) -> float:
    """Textbook bloom false-positive rate (for docs/tests)."""
    if m_bits <= 0:
        return 1.0
    return (1.0 - math.exp(-k * n_keys / m_bits)) ** k
