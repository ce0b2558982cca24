"""The benchmark workloads over seeded web pages.

Each workload has a set-up (generate the pages; ``lookup`` also encodes
them), a one-time ``prepare`` (the reference-config parquet size and what
the correctness gate compares against), a seeded stream of ops in cycles,
and a gate that checks every op's output. Ops call the library's public
functions only; the spans around those calls name the layer they enter.

- ``ingest``: codec selection and encode of the whole table per op.
- ``lookup``: a seeded mix of reads on the encoded table: point and range
  queries served from block metadata, a 50-key semi-join, a table summary
  and a full decode, one of each per cycle.

``Curate`` (html extraction, Gopher quality filter, exact and MinHash near
dedup over pages with injected duplicates) is not a workload of its own: a
traced run of either workload runs one curate op as a probe of the
``functions`` layer.
"""

from __future__ import annotations

import hashlib
import os
import shutil
import time

import numpy as np
import pyarrow.compute as pc
from pyspark.sql import functions as F

import data
from tracing import median

from nail_parquet_spark.codec.decode import (decode_parquet_dir, decode_semijoin,
                                             decode_table, decode_table_where_all,
                                             decode_topk, prune_blocks,
                                             prune_blocks_bloom)
from nail_parquet_spark.codec.encode import choose_codecs_for_df, encode_parquet_dir
from nail_parquet_spark.codec.inspect import (count_where_pushdown, frequency_pushdown,
                                              metadata_summary)
from nail_parquet_spark.codec.kernels import decode_array, encode_array, xref_ref_of
from nail_parquet_spark.codec.select import raw_bytes_of
from nail_parquet_spark.functions.dedup import (dedup_exact, jaccard_verify,
                                                minhash_lsh_candidates,
                                                minhash_signatures)
from nail_parquet_spark.functions.html import html_body_text
from nail_parquet_spark.functions.quality import gopher_filter

COLUMNS = data.COLUMNS
BLOOM = ["url"]
SEMIJOIN_KEYS = 50


class Workload:
    """Shared set-up and bookkeeping; subclasses define the ops."""

    name = ""
    rows = 0
    rows_per_file = 16384
    start = 0  # first generated row id
    dup_frac = 0.0
    encode_in_setup = False

    def __init__(self, spark, work: str, seed: int, tracer, rows: int | None = None):
        self.spark = spark
        self.work = work
        self.seed = seed
        self.tracer = tracer
        if rows is not None:
            self.rows = rows
        self.src = os.path.join(work, "src")
        self.ref = os.path.join(work, "ref")
        self.enc = os.path.join(work, "enc")
        self.rng = np.random.default_rng((seed, 0xB3))
        self.stats: dict[str, list] = {}  # per-layer samples from traced ops

    # ---- set-up -------------------------------------------------------
    def _encode(self) -> None:
        """Encode the pages once, codecs picked by the encoder itself."""
        shutil.rmtree(self.enc, ignore_errors=True)
        encode_parquet_dir(self.spark, self.src, self.enc, bloom_columns=BLOOM).collect()
        self.measure_encoded(self.enc)

    def measure_encoded(self, enc: str) -> None:
        """Stored size and per-column raw/encoded bytes of an encoded dir."""
        self.stored_bytes = data.dir_bytes(enc)
        meta = data.read_table(enc, ["column", "raw_bytes", "enc_bytes"])
        self.col_raw: dict[str, int] = {}
        self.col_enc: dict[str, int] = {}
        for c, raw, n in zip(meta.column("column").to_pylist(),
                             meta.column("raw_bytes").to_pylist(),
                             meta.column("enc_bytes").to_pylist()):
            self.col_raw[c] = self.col_raw.get(c, 0) + raw
            self.col_enc[c] = self.col_enc.get(c, 0) + n
        self.raw_bytes = sum(self.col_raw.values())

    def setup_once(self) -> dict[str, float]:
        """One full set-up; returns the seconds of each part."""
        shutil.rmtree(self.src, ignore_errors=True)
        n_files = max(1, -(-self.rows // self.rows_per_file))
        t0 = time.perf_counter()
        data.write_pages(self.spark, self.src, self.seed, self.start, self.rows,
                         n_files, self.dup_frac)
        t1 = time.perf_counter()
        if self.encode_in_setup:
            self._encode()
        return {"synth_s": t1 - t0, "encode_s": time.perf_counter() - t1}

    def prepare(self) -> dict[str, float]:
        """Benchmark-side work done once after set-up, outside ``setup_s``:
        the reference-config parquet size, and what the gate compares
        against. Returns the seconds of its parts."""
        t0 = time.perf_counter()
        self.ref_bytes = data.write_reference_parquet(self.spark, self.src, self.ref)
        shutil.rmtree(self.ref, ignore_errors=True)
        t1 = time.perf_counter()
        self.prepare_gate()
        return {"ref_parquet_s": t1 - t0}

    def prepare_gate(self) -> None:
        """What the gate compares against."""

    # ---- op stream ----------------------------------------------------
    def op_types(self) -> list[str]:
        raise NotImplementedError

    def cycle(self) -> list[str]:
        """The kinds of the next cycle of ops; runs measure whole cycles."""
        return self.op_types()

    def run_op(self, kind: str, i: int):
        raise NotImplementedError

    def check(self, kind: str, result) -> bool:
        raise NotImplementedError

    def bytes_of(self, kind: str) -> int:
        """Raw user bytes one op of this kind processes: the table it
        encodes, or the table a read answers over."""
        return self.raw_bytes

    def after_op(self, kind: str, result, traced: bool) -> None:
        """Untimed clean-up and, for traced ops, layer probes."""

    def sample(self, key: str, value) -> None:
        self.stats.setdefault(key, []).append(value)

    def path(self, tag: str, i: int) -> str:
        return os.path.join(self.work, f"{tag}-{i}")

    # ---- codec kernels, single thread, one block per column ---------------
    def kernel_rates(self, repeats: int = 3) -> dict[str, float]:
        if not hasattr(self, "codecs"):
            self.codecs = choose_codecs_for_df(self.spark.read.parquet(self.src), COLUMNS)
        tbl = data.read_table(self.src, COLUMNS).slice(0, 65536).combine_chunks()
        arrs = {c: tbl.column(c).chunk(0) for c in COLUMNS}
        out = {}
        for c in COLUMNS:
            ref = xref_ref_of(self.codecs[c])
            ref_arr = arrs[ref] if ref else None
            mb = raw_bytes_of(arrs[c]) / 1e6
            enc_t, dec_t = [], []
            for _ in range(repeats):
                t0 = time.perf_counter()
                blk = encode_array(arrs[c], self.codecs[c], ref_arr=ref_arr)
                t1 = time.perf_counter()
                back = decode_array(blk, ref_arr=ref_arr)
                t2 = time.perf_counter()
                enc_t.append(t1 - t0)
                dec_t.append(t2 - t1)
            if not back.equals(arrs[c]):
                raise AssertionError(f"kernel round trip differs on {c}")
            out[f"codec.kernels.enc_mbps.{c}"] = mb / median(enc_t)
            out[f"codec.kernels.dec_mbps.{c}"] = mb / median(dec_t)
        return out


def _blocks_digest(path: str) -> str:
    """Digest of an encoded directory's blocks, independent of file and row
    order."""
    t = data.read_table(path, ["part_id", "block_id", "column", "header", "payload"])
    t = t.take(pc.sort_indices(t, sort_keys=[("part_id", "ascending"),
                                             ("block_id", "ascending"),
                                             ("column", "ascending")]))
    h = hashlib.sha256()
    for c in ("part_id", "block_id", "column", "header", "payload"):
        h.update(data.array_digest(t.column(c)).encode())
    return h.hexdigest()


class Ingest(Workload):
    """Per op: codec selection over the source parquet, then encode into a
    fresh directory with a url bloom. Nothing is decoded."""

    name = "ingest"
    rows = 32768
    rows_per_file = 8192

    def prepare_gate(self):
        self.src_digests = data.column_digests(data.read_table(self.src, COLUMNS))
        self.ref_blocks = None  # the blocks of the first op that decodes right

    def _decodes_to_source(self, enc: str) -> bool:
        out = enc + "-dec"
        decode_parquet_dir(self.spark, enc, out).collect()
        ok = data.column_digests(data.read_table(out, COLUMNS)) == self.src_digests
        shutil.rmtree(out, ignore_errors=True)
        return ok

    def op_types(self):
        return ["encode"]

    def run_op(self, kind, i):
        out = self.path("ingest", i)
        with self.tracer.span("codec.select"):
            self.codecs = choose_codecs_for_df(self.spark.read.parquet(self.src), COLUMNS)
        with self.tracer.span("codec.encode"):
            manifest = encode_parquet_dir(self.spark, self.src, out, codecs=self.codecs,
                                          bloom_columns=BLOOM).collect()
        return out, manifest

    def check(self, kind, result):
        """Blocks equal to an earlier op's that decoded to the source rows
        pass; any other blocks are decoded and compared."""
        out, manifest = result
        if sum(r["n_rows"] for r in manifest) != self.rows:
            return False
        digest = _blocks_digest(out)
        if digest == self.ref_blocks:
            return True
        if not self._decodes_to_source(out):
            return False
        if self.ref_blocks is None:
            self.ref_blocks = digest
            self.measure_encoded(out)
        return True

    def after_op(self, kind, result, traced):
        out, manifest = result
        if traced:
            self.sample("manifest_walls", [r["wall_s"] for r in manifest])
        shutil.rmtree(out, ignore_errors=True)


def _row_key(r) -> tuple:
    return tuple(bytes(v) if isinstance(v, (bytes, bytearray)) else v for v in r)


class Lookup(Workload):
    """Reads on the encoded table, in cycles of ``PER_CYCLE`` ops of each
    kind in a seeded order with seeded arguments: url equality, warc_ts
    range count, lang frequency, top-k by url, the table summary, a full
    decode of all five columns to parquet, and one 50-key url semi-join
    (the slowest kind by far, so it is the rarest). Each answer is checked
    against plain Spark on the source parquet (the decode against the
    source rows' digests)."""

    name = "lookup"
    rows = 8192
    rows_per_file = 2048
    encode_in_setup = True
    KINDS = ["where", "count", "freq", "topk", "semijoin", "meta", "scan"]
    PER_CYCLE = {"semijoin": 1}  # every other kind: 2 per cycle
    SPANS = {"where": "codec.decode.where", "count": "codec.inspect.count",
             "freq": "codec.inspect.freq", "topk": "codec.decode.topk",
             "semijoin": "codec.decode.semijoin", "meta": "codec.inspect.meta",
             "scan": "codec.decode.scan"}

    def prepare_gate(self):
        spark = self.spark
        src = spark.read.parquet(self.src)
        self.blocks = spark.read.parquet(self.enc)
        tbl = data.read_table(self.src, COLUMNS)
        self.src_digests = data.column_digests(tbl)
        urls = np.asarray(tbl.column("url").to_pylist(), dtype=object)
        ts = np.sort(tbl.column("warc_ts").cast("int64").drop_null().to_numpy())
        rng = self.rng
        self.where_keys = list(rng.choice(urls, 16, replace=False))
        self.join_keys = [list(rng.choice(urls, SEMIJOIN_KEYS, replace=False)) for _ in range(2)]
        self.ts_cuts = [_ts_str(ts[int(q * (len(ts) - 1))]) for q in rng.uniform(0.05, 0.95, 8)]
        self.ks = [5, 10, 20]
        want = set(self.where_keys) | {u for ks in self.join_keys for u in ks}
        self.want_rows = {r["url"]: _row_key(r[c] for c in COLUMNS)
                          for r in src.filter(F.col("url").isin(sorted(want))).collect()}
        agg = src.agg(*[F.count(F.when(F.col("warc_ts") >= F.lit(c).cast("timestamp"), 1))
                        .alias(f"c{j}") for j, c in enumerate(self.ts_cuts)]).first()
        self.want_count = {c: agg[f"c{j}"] for j, c in enumerate(self.ts_cuts)}
        self.want_freq = {r["lang"]: r["count"] for r in src.groupBy("lang").count().collect()}
        top = src.orderBy(F.col("url").desc()).limit(max(self.ks)).collect()
        self.want_top = [_row_key(r[c] for c in COLUMNS) for r in top]
        nulls = src.agg(*[F.sum(F.col(c).isNull().cast("long")).alias(c)
                          for c in COLUMNS]).first()
        self.want_nulls = {c: nulls[c] for c in COLUMNS}
        self.groups_total = self.blocks.select("part_id", "block_id").distinct().count()

    def op_types(self):
        return self.KINDS

    def cycle(self):
        kinds = [k for k in self.KINDS for _ in range(self.PER_CYCLE.get(k, 2))]
        return list(self.rng.permutation(kinds))

    def run_op(self, kind, i):
        rng = self.rng
        b = self.blocks
        with self.tracer.span(self.SPANS[kind]):
            if kind == "where":
                u = self.where_keys[int(rng.integers(len(self.where_keys)))]
                return u, decode_table_where_all(b, [("url", "=", u)]).collect()
            if kind == "count":
                c = self.ts_cuts[int(rng.integers(len(self.ts_cuts)))]
                return c, count_where_pushdown(b, "warc_ts", ">=", c)
            if kind == "freq":
                return None, frequency_pushdown(b, "lang").collect()
            if kind == "topk":
                k = self.ks[int(rng.integers(len(self.ks)))]
                return k, decode_topk(b, "url", k).collect()
            if kind == "semijoin":
                keys = self.join_keys[int(rng.integers(len(self.join_keys)))]
                kdf = self.spark.createDataFrame([(u,) for u in keys], "url string")
                return keys, decode_semijoin(b, kdf, "url").collect()
            if kind == "scan":
                out = self.path("scan", i)
                return out, decode_parquet_dir(self.spark, self.enc, out).collect()
            return None, metadata_summary(b).collect()

    def _rows(self, got) -> list:
        return sorted(_row_key(r[c] for c in COLUMNS) for r in got)

    def check(self, kind, result):
        arg, got = result
        if kind == "where":
            return self._rows(got) == [self.want_rows[arg]]
        if kind == "count":
            return got["count"] == self.want_count[arg]
        if kind == "freq":
            return {r["value"]: r["n"] for r in got} == self.want_freq
        if kind == "topk":
            return [_row_key(r[c] for c in COLUMNS) for r in got] == self.want_top[:arg]
        if kind == "semijoin":
            return self._rows(got) == sorted(self.want_rows[u] for u in arg)
        if kind == "scan":
            return data.column_digests(data.read_table(arg, COLUMNS)) == self.src_digests
        summary = {r["column"]: r for r in got}
        return set(summary) == set(COLUMNS) and all(
            summary[c]["n_values"] == self.rows and summary[c]["null_count"] == self.want_nulls[c]
            for c in COLUMNS)

    def after_op(self, kind, result, traced):
        arg, got = result
        if kind == "scan":
            shutil.rmtree(arg, ignore_errors=True)
        if not traced:
            return
        if kind == "count":
            self.sample("groups_decoded_frac", got["groups_decoded"] / max(1, got["groups_total"]))
        if kind == "where" and "groups_kept" not in self.stats:
            # once per run, the public pruning steps on their own: groups
            # kept, and how many of those hold the answer row
            kept = prune_blocks_bloom(prune_blocks(self.blocks, "url", "=", arg), "url", arg)
            n_kept = kept.select("part_id", "block_id").distinct().count()
            useful = (decode_table(kept, columns=["url"], with_positions=True)
                      .filter(F.col("url") == arg)
                      .select("_src_file", "_part_id", "_block_id").distinct().count())
            self.sample("groups_kept", n_kept)
            self.sample("useful_frac", useful / n_kept if n_kept else 0.0)


def _ts_str(us: int) -> str:
    import datetime as dt

    t = dt.datetime(1970, 1, 1) + dt.timedelta(microseconds=int(us))
    return t.strftime("%Y-%m-%d %H:%M:%S.%f")


class Curate(Workload):
    """Per op: html body extraction, Gopher quality filter (arrow engine),
    exact dedup, then MinHash signatures, LSH candidates and Jaccard
    verification; survivors go to a noop sink. Each stage is one Spark
    action over the previous stage's persisted output."""

    name = "curate"
    rows = 2048
    rows_per_file = 512
    start = 1 << 32  # a row range disjoint from the other workloads'
    dup_frac = 0.2

    def prepare_gate(self):
        self.pages = self.spark.read.parquet(self.src)
        docs = self.pages.select(F.col("url").alias("id"),
                                 html_body_text(F.col("html")).alias("body"))
        q = gopher_filter(docs, "id", "body", engine="sql")
        self.want_gopher = tuple(_gopher_digest(q))
        kept = docs.join(q.filter("passes").select("id"), "id")
        r = kept.agg(F.countDistinct("body").alias("d"),
                     F.sum(F.col("body").isNull().cast("long")).alias("n")).first()
        self.want_exact = r["d"] + (r["n"] or 0)

    def op_types(self):
        return ["chain"]

    def bytes_of(self, kind):
        return self.col_raw["text"]
    def run_op(self, kind, i):
        t = self.tracer
        keep = []

        def stage(df):
            df = df.persist()
            keep.append(df)
            return df

        with t.span("functions.html"):
            docs = stage(self.pages.select(F.col("url").alias("id"),
                                           html_body_text(F.col("html")).alias("body")))
            n_in = docs.count()
        with t.span("functions.quality_arrow"):
            q = stage(gopher_filter(docs, "id", "body", engine="arrow"))
            n_q, n_pass, digest = _gopher_digest(q)
        with t.span("functions.dedup.exact"):
            dx = stage(dedup_exact(docs.join(q.filter("passes").select("id"), "id"),
                                   "id", "body"))
            n_dx = dx.count()
        with t.span("functions.dedup.minhash"):
            sigs = stage(minhash_signatures(dx, "id", "body"))
            sigs.count()
        with t.span("functions.dedup.lsh"):
            cands = stage(minhash_lsh_candidates(sigs, "id"))
            n_cand = cands.count()
        with t.span("functions.dedup.verify"):
            conf = stage(jaccard_verify(dx, cands, "id", "body"))
            n_conf = conf.count()
            n_near = conf.select("id_b").distinct().count()
        with t.span("sink.noop"):
            (dx.join(conf.select(F.col("id_b").alias("id")), "id", "left_anti")
             .write.format("noop").mode("overwrite").save())
        return {"keep": keep, "n_in": n_in, "n_q": n_q, "n_pass": n_pass, "digest": digest,
                "n_dx": n_dx, "n_cand": n_cand, "n_conf": n_conf, "n_kept": n_dx - n_near}

    def check(self, kind, r):
        return (r["n_in"] == self.rows and r["n_q"] == r["n_in"]
                and (r["n_pass"], r["digest"]) == self.want_gopher[1:]
                and r["n_dx"] == self.want_exact and 0 < r["n_conf"] <= r["n_cand"])

    def after_op(self, kind, r, traced):
        for df in r["keep"]:
            df.unpersist()
        if traced:
            for k in ("n_in", "n_kept", "n_cand", "n_conf"):
                self.sample(k, r[k])


def _gopher_digest(q) -> list:
    """(docs, docs passing, order-free digest of the passing ids)."""
    r = q.agg(F.count(F.lit(1)).alias("n"),
              F.sum(F.col("passes").cast("long")).alias("p"),
              F.sum(F.when(F.col("passes"), F.xxhash64("id").cast("decimal(38,0)")))
              .alias("h")).first()
    return [r["n"], r["p"] or 0, str(r["h"])]


WORKLOADS = {w.name: w for w in (Ingest, Lookup)}
