"""Deterministic Common-Crawl-style web-table synthesizer (FIXTURES.md F1).

Schema per BASELINE.json input_hint:
  url:string, warc_ts:timestamp, html:binary, text:string, lang:string

Properties engineered to exercise every codec:
  - urls: Zipfian hosts (hot-domain skew for the salted-repartition path),
    unique paths (url is a primary key)
  - warc_ts: per-host drifting crawl times -> small deltas (delta_bitpack)
  - html: markup wrapping `text` plus non-UTF8 byte runs (binary round-trip)
  - text: Zipfian vocabulary with ~5% unicode rows, empty-vs-null cases
  - lang: ~20 values with host-correlated runs (~1% nulls) -> rle/dict

All generation is numpy-vectorized and seeded; workers regenerate identical
data from (seed, start_row, n_rows) so distributed synthesis needs no
driver-side materialization.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa

LANGS = np.array(
    "en de fr es it pt nl ru zh ja ko ar hi tr pl sv fi cs el he".split()
)
_LANG_P = np.array([0.42, 0.08, 0.07, 0.07, 0.04, 0.04, 0.03, 0.04, 0.05,
                    0.04, 0.02, 0.02, 0.02, 0.01, 0.01, 0.01, 0.01, 0.01,
                    0.005, 0.005])
_LANG_P = _LANG_P / _LANG_P.sum()

_VOCAB = np.array(
    (
        "the of and to in a is that it was for on are as with his they at be "
        "this have from or one had by word but not what all were we when your "
        "can said there use an each which she do how their if will up other "
        "about out many then them these so some her would make like him into "
        "time has look two more write go see number no way could people my "
        "than first water been call who oil its now find long down day did "
        "get come made may part over new sound take only little work know "
        "place year live me back give most very after thing our just name "
        "good sentence man think say great where help through much before "
        "line right too mean old any same tell boy follow came want show "
        "also around form three small set put end does another well large "
        "must big even such because turn here why ask went men read need "
        "land different home us move try kind hand picture again change "
        "off play spell air away animal house point page letter mother "
        "answer found study still learn should america world"
    ).split()
)
_UNICODE_EXTRA = np.array(["café", "naïve", "日本語", "中文", "Привет", "🎉emoji", "ñandú", "Ω≈ç"])


def _zipf_probs(k: int, s: float = 1.2) -> np.ndarray:
    p = 1.0 / np.power(np.arange(1, k + 1), s)
    return p / p.sum()


def make_webpages_batch(
    seed: int, start: int, n: int, n_hosts: int = 1000, avg_words: int = 80
) -> pa.RecordBatch:
    """Generate rows [start, start+n) of the webpages table, deterministically.

    The RNG is seeded per (seed, start) so any partitioning of the row space
    yields identical global data.
    """
    rng = np.random.default_rng((seed, start))
    host_ids = rng.choice(n_hosts, size=n, p=_zipf_probs(n_hosts))

    # urls: unique via global row id
    rows = np.arange(start, start + n)
    urls = np.char.add(
        np.char.add("https://www.host", host_ids.astype("U8")),
        np.char.add(".example.com/page/", rows.astype("U12")),
    )
    urls = np.char.add(urls, ".html")

    # warc_ts: base per host + small positive drift (seconds) — FOR/delta friendly
    base = np.int64(1_700_000_000_000_000)  # 2023-11-14 UTC, micros
    host_offset = host_ids.astype(np.int64) * 3_600_000_000
    drift = (rows.astype(np.int64) % 100_000) * 1_000_000 + rng.integers(0, 1_000_000, n)
    warc_ts = base + host_offset + drift

    # lang: correlated with host (hosts have a dominant language)
    host_lang = (host_ids * 7) % len(LANGS)
    use_host_lang = rng.random(n) < 0.85
    rand_lang = rng.choice(len(LANGS), size=n, p=_LANG_P)
    lang_idx = np.where(use_host_lang, host_lang, rand_lang)
    lang = LANGS[lang_idx].astype(object)
    lang_null = rng.random(n) < 0.01

    # text: Zipfian word soup; ~5% rows get unicode spice; 0.5% empty
    word_p = _zipf_probs(len(_VOCAB), 1.05)
    nw = rng.integers(avg_words // 2, avg_words * 3 // 2, n)
    total_words = int(nw.sum())
    flat = rng.choice(_VOCAB, size=total_words, p=word_p)
    bounds = np.concatenate(([0], np.cumsum(nw)))
    texts = np.empty(n, dtype=object)
    joined = flat.astype(object)
    for i in range(n):  # join per row — still cheap vs codec work; could
        texts[i] = " ".join(joined[bounds[i] : bounds[i + 1]])  # vectorize later
    uni_rows = rng.random(n) < 0.05
    uni_idx = np.flatnonzero(uni_rows)
    if len(uni_idx):
        extras = rng.choice(_UNICODE_EXTRA, size=len(uni_idx))
        for i, e in zip(uni_idx, extras):
            texts[i] = texts[i] + " " + e
    empty_rows = rng.random(n) < 0.005
    texts[empty_rows] = ""

    # html: template + text + trailing non-UTF8 noise
    htmls = np.empty(n, dtype=object)
    noise_lens = rng.integers(0, 64, n)
    noise = rng.integers(0, 256, int(noise_lens.sum()), dtype=np.uint8).tobytes()
    nb = np.concatenate(([0], np.cumsum(noise_lens)))
    for i in range(n):
        htmls[i] = (
            b"<html><head><title>page</title></head><body><p>"
            + texts[i].encode("utf-8")
            + b"</p></body></html>"
            + noise[nb[i] : nb[i + 1]]
        )

    return pa.record_batch(
        [
            pa.array(urls.astype(object), type=pa.string()),
            pa.array(warc_ts, type=pa.int64()).cast(pa.timestamp("us")),
            pa.array(htmls, type=pa.binary()),
            pa.array(texts, type=pa.string()),
            pa.array(lang, type=pa.string(), mask=lang_null),
        ],
        names=["url", "warc_ts", "html", "text", "lang"],
    )


WEBPAGES_SCHEMA = pa.schema(
    [
        ("url", pa.string()),
        ("warc_ts", pa.timestamp("us")),
        ("html", pa.binary()),
        ("text", pa.string()),
        ("lang", pa.string()),
    ]
)


def webpages_spark(spark, n_rows: int, seed: int = 42, n_parts: int | None = None,
                   n_hosts: int = 1000):
    """Distributed synthesis: task i of one shuffle-free stage generates row
    range i via mapInArrow — no data ever funnels through the driver."""
    from nail_parquet_spark.sources.io import map_slices

    if n_parts is None:
        n_parts = max(1, spark.sparkContext.defaultParallelism)
    rows_per = (n_rows + n_parts - 1) // n_parts
    ranges = [(i * rows_per, min((i + 1) * rows_per, n_rows)) for i in range(n_parts)]
    ranges = [r for r in ranges if r[1] > r[0]]

    def gen(r):
        s, e = r
        for cs in range(s, e, 65536):
            yield make_webpages_batch(seed, cs, min(65536, e - cs), n_hosts=n_hosts)

    return map_slices(spark, ranges, gen,
                      "url string, warc_ts timestamp, html binary, text string, lang string")


def webpages_pandas(n_rows: int, seed: int = 42, n_hosts: int = 1000):
    """Driver-side synthesis for tests: one Arrow table."""
    return pa.Table.from_batches([make_webpages_batch(seed, 0, n_rows, n_hosts=n_hosts)])
