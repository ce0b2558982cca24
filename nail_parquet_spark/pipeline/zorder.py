"""Z-order (Morton) clustering for multi-column zone-map pruning.

The encode pipeline's (host, ts) sort gives the block table locality in ONE
leading dimension: zone maps prune hard on host predicates but barely on a
ts-only predicate. Z-ordering interleaves the bits of several columns'
bucket codes so blocks become hyper-rectangles in ALL clustered dimensions
at once — the layout Delta Lake's OPTIMIZE ZORDER BY builds — and the
existing zone-map / bloom pushdown (codec/decode.py) then prunes on any of
them. Beyond the reference surface (the reference has no layout optimizer).

Scale shape: two scalar aggregate passes (per-column min/max) at plan
time, then ONE repartitionByRange + partition-local sort on the computed
z-value — the same shuffle budget as any global sort, with the z-value
built entirely from codegen'd arithmetic (width_bucket, shifts, ORs; no
UDF). Numeric/timestamp columns bucket equi-width over [min, max];
string/binary columns bucket by ``pmod(xxhash64, n)`` — equal values get
the same bucket code, but Morton's low-bit cycling still mixes buckets
within a block, so ZONE-MAP equality pruning on a hashed string dimension
is weak; pair a string z-dimension with the per-block bloom index
(``encode_table(bloom_columns=[...])``, codec/bloom.py), which prunes on
membership rather than min/max ranges. Range locality for strings is not
preserved (hashing) — keep range-predicate columns numeric/timestamp.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def _bucket_expr(df: DataFrame, col: str, bits: int, scheme: str = "width"):
    """0..2^bits-1 bucket code column for ``col`` (codegen only).

    ``scheme='width'``: equi-width over [min, max] — two scalar aggregates
    at plan time, one ``width_bucket`` per row. ``scheme='quantile'``:
    equi-DEPTH boundaries from ``approxQuantile`` (one GK-sketch pass at
    plan time) — the right scheme for skewed numeric dims (a lognormal
    column otherwise lands ~everything in bucket 0, and the Morton code
    loses that dimension entirely). Per-row cost is a codegen'd
    ``size(filter(boundaries, b -> v >= b))`` over ≤2^bits-1 literals, so
    keep ``bits`` ≤ 8 with quantile buckets."""
    n = 1 << bits
    dtype = dict(df.dtypes)[col]
    if dtype in ("string", "binary"):
        return F.pmod(F.xxhash64(F.col(col)), F.lit(n)).cast("long")
    v = F.col(col).cast("double")
    if scheme == "quantile":
        probs = [i / n for i in range(1, n)]
        bounds = df.select(v.alias("__q")).dropna().approxQuantile(
            "__q", probs, 1.0 / (4 * n)
        )
        # strictly-increasing boundaries; duplicates (heavy hitters) merge
        uniq: list[float] = []
        for b in bounds:
            if not uniq or b > uniq[-1]:
                uniq.append(float(b))
        if not uniq:
            return F.lit(0).cast("long")
        arr = F.array(*[F.lit(b) for b in uniq])
        return F.coalesce(
            F.size(F.filter(arr, lambda b: v >= b)).cast("long"), F.lit(0)
        )
    row = df.agg(F.min(v).alias("lo"), F.max(v).alias("hi")).collect()[0]
    lo, hi = row["lo"], row["hi"]
    if lo is None or hi is None or hi <= lo:
        return F.lit(0).cast("long")
    # width_bucket: 1..n inside [lo, hi]; clamp the hi edge back into n
    return (F.least(F.width_bucket(v, F.lit(float(lo)), F.lit(float(hi)),
                                   F.lit(n)), F.lit(n)) - 1).cast("long")


def zorder_value(df: DataFrame, cols: list[str], bits: int = 8,
                 scheme: str = "width"):
    """Morton code over ``cols``: bit j of column i's bucket lands at
    position ``j * len(cols) + i``. With the default 8 bits/column and up
    to 7 columns the code fits a long. ``scheme`` picks the numeric
    bucketing: 'width' (equi-width) or 'quantile' (equi-depth, for skew)."""
    if not cols:
        raise ValueError("zorder needs at least one column")
    if bits * len(cols) > 62:
        raise ValueError(f"{bits} bits x {len(cols)} columns overflows a long")
    if scheme not in ("width", "quantile"):
        raise ValueError(f"scheme must be width|quantile, got {scheme!r}")
    buckets = [_bucket_expr(df, c, bits, scheme) for c in cols]
    z = F.lit(0).cast("long")
    for i, b in enumerate(buckets):
        for j in range(bits):
            bit = F.shiftright(b, j).bitwiseAND(F.lit(1))
            z = z.bitwiseOR(F.shiftleft(bit, j * len(cols) + i))
    return z


def zorder_sort(df: DataFrame, cols: list[str], bits: int = 8,
                n_partitions: int | None = None,
                scheme: str = "width") -> DataFrame:
    """Cluster ``df`` by the Morton code of ``cols``: DETERMINISTIC
    equal-width z-slice repartition plus a partition-local sort, so
    downstream encode blocks cover tight ranges in every clustered
    dimension.

    Why not ``repartitionByRange``: its range boundaries come from a
    SAMPLING pass whose seed is the RDD id, which changes per action — an
    uncached downstream plan can therefore shift rows between partitions
    across jobs. That silently breaks multi-job consumers (e.g.
    ``decode_table_where`` reads the block index in one job and decodes
    payloads in another), and it costs an extra full-input pass at 100 TB.
    Equal-width slices of the z space are a pure per-row function, and the
    bucket codes feeding z are already equi-width (or equi-depth under
    ``scheme='quantile'``) per dimension, so slices stay balanced without
    sampling. 4 slices per target partition are hash-mapped to partitions
    (Poisson load ~4 keeps the max/mean under ~2x); each partition then
    holds a few contiguous z-runs, which the local sort lays out back to
    back — still tight zone ranges per 256-row block."""
    tagged = df.withColumn("__z", zorder_value(df, cols, bits, scheme))
    n = n_partitions or df.sparkSession.sparkContext.defaultParallelism
    total = bits * len(cols)
    n_slices = max(1, min(4 * n, 1 << min(total, 31)))
    width = max(1, ((1 << total) + n_slices - 1) // n_slices)
    sliced = tagged.withColumn("__zslice", F.expr(f"__z div {width}"))
    return (sliced.repartition(n, "__zslice")
            .sortWithinPartitions("__z")
            .drop("__z", "__zslice"))
