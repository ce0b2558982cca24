"""``choose_codec`` trials in two tiers under ``balanced`` and must pick
exactly what trialling every candidate would.

Pure Arrow (no Spark session). The oracle below trial-encodes every
candidate and applies the three policy rules as they stood before the
tiers: ratio takes the smallest, speed the fastest within 1.3x of the
smallest, balanced the smallest at or above the floor, else the smallest.
"""

from __future__ import annotations

from functools import lru_cache

import numpy as np
import pyarrow as pa
import pytest

from nail_parquet_spark.codec import select
from nail_parquet_spark.codec.kernels import encode_array, kind_of
from nail_parquet_spark.codec.select import (candidate_codecs, choose_codec,
                                             codec_speed, column_stats)
from nail_parquet_spark.synth import make_webpages_batch

N = 8192
POLICIES = ("ratio", "speed", "balanced")
FLOORS = (1.0, 40.0, 150.0, 400.0)
WEB_COLUMNS = ("url", "warc_ts", "html", "text", "lang")
SLOW_STR = ("fsst", "brotli:9", "zstd:9")


@lru_cache(maxsize=None)
def _web(seed: int) -> pa.RecordBatch:
    return make_webpages_batch(seed, 0, N)


@lru_cache(maxsize=None)
def _synthetic(name: str) -> pa.Array:
    rng = np.random.default_rng(7)
    if name == "int":
        return pa.array(rng.integers(0, 1000, N))
    if name == "sorted_int":
        return pa.array(np.sort(rng.integers(0, 10**9, N)))
    if name == "decimal2":
        return pa.array(np.round(rng.uniform(0, 1000, N), 2))
    if name == "entropy_bin":
        return pa.array([rng.bytes(32) for _ in range(N)], pa.binary())
    if name == "list_double":
        lens = rng.integers(0, 8, N)
        offsets = np.concatenate([[0], np.cumsum(lens)]).astype(np.int32)
        vals = np.round(rng.normal(0, 100, int(offsets[-1])), 3)
        return pa.ListArray.from_arrays(pa.array(offsets), pa.array(vals))
    raise KeyError(name)


ARRAYS = [f"web{s}.{c}" for s in (1, 2, 3) for c in WEB_COLUMNS] + [
    "int", "sorted_int", "decimal2", "entropy_bin", "list_double"]


def _array(name: str) -> pa.Array:
    if name.startswith("web"):
        seed, col = name[3:].split(".")
        return _web(int(seed)).column(col)
    return _synthetic(name)


def _trial_sample(sample: pa.Array, budget: int = 1 << 21):
    """The sliced sample and candidate list ``choose_codec`` trials, or the
    early answer it returns without trialling."""
    kind = kind_of(sample.type)
    st = column_stats(sample)
    if st.n == 0:
        return "plain", None, []
    if st.avg_len and st.n * st.avg_len > budget:
        sample = sample.slice(0, max(256, int(budget / st.avg_len)))
    if kind == "list":
        leaf = sample.type.value_type
        while kind_of(leaf) == "list":
            leaf = leaf.value_type
        kind = kind_of(leaf)
        if kind == "other":
            return "zstd", None, []
    return None, sample, candidate_codecs(kind, st)


_ENCODED: dict = {}


def _memo_encode(arr: pa.Array, codec: str):
    """``encode_array`` once per (codec, exact slice): the encoders are
    deterministic, so the oracle and ``choose_codec`` see the same sizes
    and the equivalence test pays each trial once."""
    key = (codec, arr.offset, len(arr),
           tuple(b.address if b is not None else 0 for b in arr.buffers()))
    if key not in _ENCODED:
        try:
            _ENCODED[key] = encode_array(arr, codec)
        except Exception as e:
            _ENCODED[key] = e
    if isinstance(_ENCODED[key], Exception):
        raise _ENCODED[key]
    return _ENCODED[key]


@lru_cache(maxsize=None)
def _oracle_trials(name: str):
    early, sample, cands = _trial_sample(_array(name))
    results = []
    for c in cands:
        try:
            blk = _memo_encode(sample, c)
        except Exception:
            continue
        results.append((c, len(blk.payload), codec_speed(c)))
    return early, results


def _oracle(name: str, policy: str, min_mbps: float) -> str:
    early, results = _oracle_trials(name)
    if early is not None:
        return early
    if not results:
        return "plain"
    by_size = sorted(results, key=lambda r: r[1])
    if policy == "ratio":
        return by_size[0][0]
    if policy == "speed":
        floor_size = by_size[0][1] * 1.3
        ok = [r for r in results if r[1] <= floor_size]
        return max(ok, key=lambda r: r[2])[0]
    fast = [r for r in by_size if r[2] >= min_mbps]
    if fast:
        return fast[0][0]
    return by_size[0][0]


@pytest.mark.parametrize("name", ARRAYS)
def test_choice_equals_full_trial_oracle(name, monkeypatch):
    monkeypatch.setattr(select, "encode_array", _memo_encode)
    arr = _array(name)
    for policy in POLICIES:
        # ratio and speed ignore the floor: one call each is the whole check
        for floor in FLOORS if policy == "balanced" else FLOORS[1:2]:
            got = choose_codec(arr, policy, floor)[0]
            assert got == _oracle(name, policy, floor), (policy, floor)


def _recording(monkeypatch, fail=lambda codec: False):
    calls = []

    def rec(arr, codec, *a, **kw):
        calls.append(codec)
        if fail(codec):
            raise ValueError(f"forced failure: {codec}")
        return encode_array(arr, codec, *a, **kw)

    monkeypatch.setattr(select, "encode_array", rec)
    return calls


def test_balanced_skips_slow_trials(monkeypatch):
    text = _web(1).column("text")
    assert set(SLOW_STR) <= set(candidate_codecs("str", column_stats(text)))
    calls = _recording(monkeypatch)
    choose_codec(text, "balanced", 40.0)
    assert calls and not set(calls) & set(SLOW_STR)
    assert all(codec_speed(c) >= 40.0 for c in calls)
    calls.clear()
    choose_codec(text, "ratio", 40.0)
    assert set(SLOW_STR) <= set(calls)


def test_balanced_falls_back_to_smallest_slow_candidate(monkeypatch):
    text = _web(2).column("text")
    _, sample, cands = _trial_sample(text)
    slow = [c for c in cands if codec_speed(c) < 40.0]
    assert slow and len(slow) < len(cands)
    sizes = {c: len(encode_array(sample, c).payload) for c in slow}
    want = min(slow, key=sizes.__getitem__)

    calls = _recording(monkeypatch, fail=lambda c: codec_speed(c) >= 40.0)
    assert choose_codec(text, "balanced", 40.0)[0] == want
    assert set(slow) <= set(calls)

    _recording(monkeypatch, fail=lambda c: True)
    assert choose_codec(text, "balanced", 40.0)[0] == "plain"
