"""Metric definitions: the end-to-end set (untraced runs) and the per-layer
set (traced runs). Every workload prints every metric; a layer that a
workload never enters reports 0 for its busy times and counts. The
``functions.*`` metrics come from the one curate op of each traced run."""

from __future__ import annotations

import math

from tracing import median, tail_percentile

COLS = ["url", "warc_ts", "html", "text", "lang"]
LOOKUP_KINDS = ["where", "count", "freq", "topk", "semijoin", "meta", "scan"]

END_TO_END = {
    "setup_s": "s",
    "op_s_p50": "s",
    "op_s_tail": "s",
    "throughput_mbps": "MB/s",
    "ops_per_s": "1/s",
    "stored_ratio": "ratio",
    "stored_vs_ref": "ratio",
}

PER_LAYER = {
    "session.start_s": "s",
    "setup.synth_s": "s",
    "setup.ref_parquet_s": "s",
    "setup.encode_s": "s",
    "codec.select.busy_s": "s",
    "codec.encode.busy_s": "s",
    "codec.encode.task_wall_max_s": "s",
    "codec.encode.task_skew": "ratio",
    "codec.encode.sched_gap_s": "s",
    **{f"codec.encode.enc_bytes.{c}": "bytes" for c in COLS},
    **{f"codec.kernels.enc_mbps.{c}": "MB/s" for c in COLS},
    **{f"codec.kernels.dec_mbps.{c}": "MB/s" for c in COLS},
    "codec.decode.busy_s": "s",
    "codec.decode.task_wall_max_s": "s",
    "codec.decode.task_skew": "ratio",
    "codec.decode.sched_gap_s": "s",
    "codec.decode.where.busy_s": "s",
    "codec.decode.topk.busy_s": "s",
    "codec.decode.semijoin.busy_s": "s",
    "codec.decode.scan.busy_s": "s",
    "codec.prune.groups_total": "count",
    "codec.prune.groups_kept": "count",
    "codec.prune.useful_frac": "frac",
    "codec.inspect.groups_decoded_frac": "frac",
    "codec.inspect.count.busy_s": "s",
    "codec.inspect.freq.busy_s": "s",
    "codec.inspect.meta.busy_s": "s",
    "functions.html.busy_s": "s",
    "functions.quality_arrow.busy_s": "s",
    "functions.dedup.exact.busy_s": "s",
    "functions.dedup.minhash.busy_s": "s",
    "functions.dedup.lsh.busy_s": "s",
    "functions.dedup.verify.busy_s": "s",
    "functions.dedup.candidates": "count",
    "functions.dedup.confirmed": "count",
    "functions.dedup.useful_frac": "frac",
    "functions.docs_in": "count",
    "functions.docs_kept": "count",
    "sink.noop.busy_s": "s",
    **{f"lookup.{k}.op_s_p50": "s" for k in LOOKUP_KINDS},
    **{f"lookup.{k}.spark_jobs": "count" for k in LOOKUP_KINDS},
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.failed_tasks": "count",
    "jvm.gc_s": "s",
    "proc.rss_peak_mb": "MB",
    "proc.jvm_rss_peak_mb": "MB",
    "proc.py_rss_peak_mb": "MB",
    "trace.overhead_frac": "frac",
    "trace.unaccounted_frac": "frac",
}

UNITS = {**END_TO_END, **PER_LAYER}


def with_units(values: dict[str, float]) -> dict:
    return {k: {"value": float(v), "unit": UNITS[k]} for k, v in values.items()}


def _gmean_by_kind(ops, stat) -> float:
    """Geometric mean over op kinds of ``stat`` of each kind's op times, so
    that a mix's summary moves with every kind, not only with the kinds
    that happen to sit at its overall median (the TPC-H power-metric
    convention). With one kind it is ``stat`` itself."""
    kinds = sorted({o.kind for o in ops})
    logs = [math.log(stat([o.wall for o in ops if o.kind == k])) for k in kinds]
    return math.exp(sum(logs) / len(logs))


def end_to_end(w, ops, setup_s: float) -> dict[str, float]:
    """``ops``: the untraced measured ops."""
    busy = sum(o.wall for o in ops)
    return {
        "setup_s": setup_s,
        "op_s_p50": _gmean_by_kind(ops, median),
        "op_s_tail": _gmean_by_kind(ops, lambda xs: tail_percentile(xs)[0]),
        "throughput_mbps": sum(w.bytes_of(o.kind) for o in ops) / busy / 1e6,
        "ops_per_s": len(ops) / busy,
        "stored_ratio": w.stored_bytes / w.raw_bytes,
        "stored_vs_ref": w.stored_bytes / w.ref_bytes,
    }


def _busy(tracer, prefix: str) -> float:
    """Median over traced ops of the time spent in spans named ``prefix``
    or ``prefix.*``; 0 when no op entered that layer."""
    ops = {s["op"] for s in tracer.spans
           if s["name"] == prefix or s["name"].startswith(prefix + ".")}
    return median(_span_sum(tracer, op, prefix) for op in ops)


def _span_sum(tracer, op: int, prefix: str) -> float:
    return sum(s["end"] - s["start"] for s in tracer.spans
               if s["op"] == op and (s["name"] == prefix or s["name"].startswith(prefix + ".")))


def _task_split(samples) -> tuple[float, float, float]:
    """(max task wall, max/median task wall, call wall - max task wall),
    each the median over ops; ``samples`` holds (task walls, call wall)."""
    rows = []
    for walls, call in samples:
        if walls:
            mx, med = max(walls), median(walls)
            rows.append((mx, mx / med if med else 0.0, call - mx))
    if not rows:
        return 0.0, 0.0, 0.0
    return tuple(median(r[j] for r in rows) for j in range(3))


def per_layer(w, probe, tracer, ops, setup, session_s, kernels, gc_s, rss) -> dict[str, float]:
    """``probe``: the curate workload after its one traced op."""
    v = {k: 0.0 for k in PER_LAYER}
    v["session.start_s"] = session_s
    v["setup.synth_s"] = setup["synth_s"]
    v["setup.ref_parquet_s"] = setup["ref_parquet_s"]
    v["setup.encode_s"] = setup["encode_s"]
    for c in COLS:
        v[f"codec.encode.enc_bytes.{c}"] = w.col_enc.get(c, 0)
    v.update(kernels)
    for name in ("codec.select", "codec.encode", "codec.decode", "codec.decode.where",
                 "codec.decode.topk", "codec.decode.semijoin", "codec.decode.scan",
                 "codec.inspect.count", "codec.inspect.freq", "codec.inspect.meta",
                 "functions.html",
                 "functions.quality_arrow", "functions.dedup.exact",
                 "functions.dedup.minhash", "functions.dedup.lsh",
                 "functions.dedup.verify", "sink.noop"):
        v[name + ".busy_s"] = _busy(tracer, name)

    traced = [o for o in ops if o.traced]
    if w.name == "ingest":
        enc = [(walls, _span_sum(tracer, o.i, "codec.encode"))
               for walls, o in zip(w.stats.get("manifest_walls", []), traced)]
        (v["codec.encode.task_wall_max_s"], v["codec.encode.task_skew"],
         v["codec.encode.sched_gap_s"]) = _task_split(enc)
    elif w.name == "lookup":
        # task split of the full-table decodes: one shuffle-free job each
        dec = [(o.counts["task_walls"], _span_sum(tracer, o.i, "codec.decode.scan"))
               for o in traced if o.kind == "scan"]
        (v["codec.decode.task_wall_max_s"], v["codec.decode.task_skew"],
         v["codec.decode.sched_gap_s"]) = _task_split(dec)
        v["codec.prune.groups_total"] = w.groups_total
        v["codec.prune.groups_kept"] = median(w.stats.get("groups_kept", []))
        v["codec.prune.useful_frac"] = median(w.stats.get("useful_frac", []))
        v["codec.inspect.groups_decoded_frac"] = median(w.stats.get("groups_decoded_frac", []))
        for k in LOOKUP_KINDS:
            mine = [o for o in ops if o.kind == k]
            plain = [o.wall for o in mine if not o.traced] or [o.wall for o in mine]
            v[f"lookup.{k}.op_s_p50"] = median(plain)
            v[f"lookup.{k}.spark_jobs"] = median(o.counts["jobs"] for o in mine if o.traced)
    if probe is not None:
        v["functions.docs_in"] = median(probe.stats.get("n_in", []))
        v["functions.docs_kept"] = median(probe.stats.get("n_kept", []))
        cand = median(probe.stats.get("n_cand", []))
        conf = median(probe.stats.get("n_conf", []))
        v["functions.dedup.candidates"] = cand
        v["functions.dedup.confirmed"] = conf
        v["functions.dedup.useful_frac"] = conf / cand if cand else 0.0

    for k in ("jobs", "stages", "tasks", "failed_tasks"):
        v[f"spark.{k}"] = (sum(o.counts[k] for o in traced) / len(traced)) if traced else 0.0
    v["jvm.gc_s"] = gc_s / max(1, len(ops))
    v["proc.rss_peak_mb"] = rss.total_peak_kb / 1024
    v["proc.jvm_rss_peak_mb"] = rss.jvm_peak_kb / 1024
    v["proc.py_rss_peak_mb"] = rss.py_peak_kb / 1024

    # tracing overhead: traced against untraced ops of the same kind
    ratios = []
    for k in {o.kind for o in ops}:
        t = [o.wall for o in ops if o.kind == k and o.traced]
        u = [o.wall for o in ops if o.kind == k and not o.traced]
        if t and u:
            ratios.append(median(t) / median(u))
    v["trace.overhead_frac"] = median(ratios) - 1 if ratios else 0.0
    # share of each traced op's wall that no layer span covers
    selfs = tracer.self_times()
    fr = []
    for s in tracer.spans:
        if s["parent"] is None:
            fr.append(selfs[s["op"]][s["name"]] / (s["end"] - s["start"]))
    v["trace.unaccounted_frac"] = median(fr)
    return v


def describe(w, ops, setup, setup_s) -> str:
    """Human-readable summary for stderr: per-kind latency and the sizes
    the run used."""
    lines = [f"{w.name}: rows={w.rows} raw_mb={w.raw_bytes / 1e6:.1f} "
             f"stored_mb={w.stored_bytes / 1e6:.1f} ref_mb={w.ref_bytes / 1e6:.1f} "
             f"setup_s={setup_s:.2f} parts={ {k: round(x, 2) for k, x in setup.items()} }"]
    for k in sorted({o.kind for o in ops}):
        walls = [o.wall for o in ops if o.kind == k]
        lines.append(f"  {k:9s} n={len(walls):3d} p50={median(walls):.3f}s "
                     f"max={max(walls):.3f}s")
    for k in sorted({o.kind for o in ops}):
        walls = [o.wall for o in ops if o.kind == k]
        tail, pct, above = tail_percentile(walls)
        lines.append(f"  {k:9s} tail={tail:.3f}s is p{pct:g} of {len(walls)} ops, "
                     f"{above} above it")
    return "\n".join(lines)
