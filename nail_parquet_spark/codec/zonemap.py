"""Zone maps: the one owner of the per-block ``min_val``/``max_val`` contract.

Encode renders each block's min and max with :func:`render`
(``str(value)[:RENDER_CAP]``). Block pruning, metadata-answered counts,
exact column and group stats, and top-k pruning all read those strings back
through this module, so one set of rules holds everywhere:

- a column's :class:`StatKind` (from its header type) says how a render
  reads back: a Spark ``try_cast`` on the Catalyst side, a monotone Python
  parse on the driver side. Binary, list and other kinds carry no stats;
- a NULL stat on a block that is not all-null means the stats were
  unavailable, and a non-string render that does not parse back is
  unknown: neither ever decides anything about the block;
- a string render at the cap may be truncated. A truncated max is only a
  prefix of the true max, so it bounds nothing; a truncated min is a prefix
  of the true min, so it stays a valid lower bound but is not an exact
  value.
"""

from __future__ import annotations

import datetime as _dt
from typing import Any, Callable, NamedTuple

import pyarrow as pa
from pyspark.sql import Column, functions as F

RENDER_CAP = 64

PRUNE_OPS = ("=", "==", "!=", ">", ">=", "<", "<=", "prefix", "in",
             "isnull", "notnull")

# IN-lists longer than this skip zone/bloom pruning (the OR-of-intervals
# expression and the driver-side probe-hash work grow linearly; past this
# the residual isin filter alone is the right plan)
IN_PRUNE_CAP = 64


def render(value) -> str:
    """The stored form of one zone stat."""
    return str(value)[:RENDER_CAP]


class StatKind(NamedTuple):
    cast: str | None    # Spark type a render reads back to exactly; None = string
    parse: Callable[[str], Any]  # monotone Python parse of a render

    @property
    def is_str(self) -> bool:
        return self.cast is None


def _parse_bool(s: str) -> bool:
    if s not in ("True", "False"):
        raise ValueError(f"not a bool render: {s!r}")
    return s == "True"


def _parse_float(s: str) -> tuple[int, float]:
    # Spark orders NaN above +inf and equal to itself; encode stamps
    # max='nan' on NaN-bearing blocks
    v = float(s)
    return (1, 0.0) if v != v else (0, v)


_BOOL = StatKind("boolean", _parse_bool)
_INT = StatKind("bigint", int)
_FLOAT = StatKind("double", _parse_float)
# renders of one timestamp column differ in shape (microseconds appear only
# when nonzero), so only a parse orders them
_TS = StatKind("timestamp", _dt.datetime.fromisoformat)
_DATE = StatKind("date", _dt.date.fromisoformat)
_STR = StatKind(None, str)


def stat_kind(headers: dict, column: str, need: str | None = None):
    """The :class:`StatKind` of ``column``, or None when it carries no zone
    stats. With ``need`` (what the caller must do instead) a statless
    column raises ValueError."""
    from nail_parquet_spark.codec.kernels import _type_from_str

    t = _type_from_str(headers[column]["type"])
    if pa.types.is_boolean(t):
        return _BOOL
    if pa.types.is_integer(t):
        return _INT
    if pa.types.is_floating(t):
        return _FLOAT
    if pa.types.is_timestamp(t):
        return _TS
    if pa.types.is_date(t):
        return _DATE
    if pa.types.is_string(t) or pa.types.is_large_string(t):
        return _STR
    if need is not None:
        raise ValueError(
            f"column {column!r} ({headers[column]['type']}) carries no zone "
            f"stats; {need}")
    return None


# ---------------------------------------------------------------------------
# Catalyst side: expressions over one blocks metadata row
# ---------------------------------------------------------------------------

def read_back(kind: StatKind, stat: Column) -> tuple[Column, Column]:
    """(value, exact) for one rendered stat: the stat in its column's own
    Spark type, and whether that is the exact value (present, parsed, and
    below the string render cap)."""
    if kind.is_str:
        return stat, stat.isNotNull() & (F.length(stat) < RENDER_CAP)
    v = stat.try_cast(kind.cast)
    return v, v.isNotNull()


def missing(lo: Column) -> Column:
    """Stats unavailable: no (parsed) min on a block holding non-null rows."""
    return lo.isNull() & (F.col("null_count") < F.col("n_rows"))


def _check_prefix(kind: StatKind | None, op: str) -> None:
    if op == "prefix" and (kind is None or not kind.is_str):
        raise ValueError("prefix predicate is only valid on string columns")


def _may_full(kind: StatKind, op: str, value):
    """(lo, may, full) for a value predicate: lo is the block min in the
    column's type (NULL when missing or unparsed), may = some row can
    match, full = every non-null row matches. Literals stay uncast, so a
    stat compares with them under the same coercion as the column does in
    the residual filter (``k >= 4.5`` compares as double, not as 4)."""
    lo, lo_known = read_back(kind, F.col("min_val"))
    hi, hi_known = read_back(kind, F.col("max_val"))

    def hi_ok(c: Column) -> Column:
        # an unknown (truncated or unparsed) max bounds nothing
        return F.when(hi_known, c).otherwise(F.lit(True))

    if op == "in":
        lits = [F.lit(x) for x in value]
        may = F.lit(False)
        in_any = F.lit(False)
        for lv in lits:
            may = may | ((lo <= lv) & hi_ok(hi >= lv))
            in_any = in_any | (lo == lv)
        return lo, may, lo_known & hi_known & (lo == hi) & in_any
    v = F.lit(value)
    if op == "!=":
        # only a block provably constant-equal to v has no match (nulls
        # never satisfy !=; all-null blocks are decided by the caller)
        return (lo, ~(lo_known & hi_known & (lo == v) & (hi == v)),
                lo_known & hi_known & ((hi < v) | (lo > v)))
    if op == "prefix":
        # strings with prefix p form the interval [p, p⁺). A block may hold
        # one iff hi >= p and (lo <= p OR lo itself starts with p) — valid
        # under min truncation: a truncated lo is a prefix of the true lo,
        # so it is <= p whenever the true lo's first len(lo) chars sit
        # within p, and startswith still fires when the truncation kept at
        # least len(p) chars. Both stats starting with p is exact under
        # truncation too, since a render's first chars are exact.
        return (lo, ((lo <= v) | lo.startswith(v)) & hi_ok(hi >= v),
                lo.isNotNull() & lo.startswith(v) & hi.startswith(v))
    if op in ("=", "=="):
        return (lo, (lo <= v) & hi_ok(hi >= v),
                lo_known & hi_known & (lo == v) & (hi == v))
    if op == ">=":
        return lo, hi_ok(hi >= v), lo_known & (lo >= v)
    if op == ">":
        return lo, hi_ok(hi > v), lo_known & (lo > v)
    if op == "<=":
        return lo, lo <= v, hi_known & (hi <= v)
    return lo, lo < v, hi_known & (hi < v)  # "<"


def may_keep(headers: dict, column: str, op: str, value):
    """The prune rule: a Column over a blocks metadata row that is true when
    some row of the block may satisfy ``column op value``, or None when
    zone stats cannot prune this column/op (statless kind, IN list over
    ``IN_PRUNE_CAP``). Blocks with missing stats are always kept."""
    if op in ("isnull", "notnull"):
        # null predicates need only the null counters, recorded for EVERY
        # column type (binary included)
        return (F.col("null_count") > 0) if op == "isnull" else (
            F.col("null_count") < F.col("n_rows"))
    kind = stat_kind(headers, column)
    _check_prefix(kind, op)
    if kind is None:
        return None
    if op == "in":
        value = list(value)
        if len(value) > IN_PRUNE_CAP:
            return None
        if not value:
            return F.lit(False)  # matches no row anywhere
    lo, may, _ = _may_full(kind, op, value)
    return missing(lo) | (lo.isNotNull() & may)


def count_classes(headers: dict, column: str, op: str, value):
    """(full, boundary) Columns classifying each block for an exact count
    of ``column op value`` (a value op; null ops need only the counters):
    full = every non-null row matches, boundary = only a decode can tell;
    every other block matches nothing. Undecidable comparisons never
    decide: all-null blocks match nothing, blocks with missing stats are
    boundary. Raises for statless columns."""
    kind = stat_kind(headers, column)
    _check_prefix(kind, op)
    if kind is None:
        raise ValueError(
            f"column {column!r} ({headers[column]['type']}) carries no zone "
            "stats; count requires a full decode")
    lo, may, full = _may_full(kind, op, value)
    decidable = ~missing(lo)
    some_rows = F.col("null_count") < F.col("n_rows")

    def safe(c: Column) -> Column:
        return F.coalesce(c, F.lit(False))

    known = lo.isNotNull()
    is_none = decidable & (~some_rows | safe(known & ~may))
    is_full = decidable & safe(known & may & full) & some_rows
    return is_full, ~(is_none | is_full)


# ---------------------------------------------------------------------------
# driver side: collected metadata rows
# ---------------------------------------------------------------------------

def parse_stats(kind: StatKind, lo_s: str | None, hi_s: str | None):
    """(lo, hi) of one block's rendered stats as totally-ordered Python
    values, or None when either is missing or does not parse. A string max
    at the render cap comes back as hi None (unknown); a truncated min stays
    as lo, a valid lower bound."""
    if lo_s is None or hi_s is None:
        return None
    try:
        lo, hi = kind.parse(lo_s), kind.parse(hi_s)
    except (TypeError, ValueError):
        return None
    if kind.is_str and len(hi_s) >= RENDER_CAP:
        hi = None
    return lo, hi


def point_value(kind: StatKind, lo_s: str | None, hi_s: str | None):
    """(True, v) when a block's stats prove every non-null row equals v,
    else (False, None)."""
    b = parse_stats(kind, lo_s, hi_s)
    if b is None or b[1] is None or b[0] != b[1]:
        return False, None
    return True, b[0]


def topk_keep(kind: StatKind, rows, k: int, descending: bool):
    """Keys of the blocks that may hold one of the ``k`` best rows of
    ``ORDER BY value [DESC|ASC]``, or None when the blocks with usable stats
    hold fewer than ``k`` rankable rows (no k-row guarantee: keep all).
    ``rows`` are ``(key, rankable_rows, min_val, max_val)`` per block.

    Greedy bound: sort bounded blocks by their best side (max for desc, min
    for asc) and take blocks until their rankable rows reach ``k``; the
    bound L is the worst value guaranteed inside the taken set (min of the
    taken mins for desc, max of the taken maxes for asc). Every other block
    is kept when its best side beats or ties L. A row outside the keep-set
    is strictly worse than L, which is no better than the true k-th value,
    so it cannot rank; boundary ties stay inside for the exact sort.
    Blocks with missing or unparsed stats, or a truncated max (unknown best
    side for desc, unusable worst side for asc), are always kept and never
    feed the bound; a truncated min only ever keeps more."""
    keep: set = set()
    bounded: list[tuple] = []  # (best, worst, rankable, key)
    for key, nn, lo_s, hi_s in rows:
        b = parse_stats(kind, lo_s, hi_s)
        if b is None or b[1] is None:
            keep.add(key)
            continue
        lo, hi = b
        bounded.append((hi, lo, nn, key) if descending else (lo, hi, nn, key))
    if sum(g[2] for g in bounded) < k:
        return None
    bounded.sort(key=lambda g: g[0], reverse=descending)
    taken = 0
    for i, g in enumerate(bounded):
        taken += g[2]
        if taken >= k:
            break
    worsts = [g[1] for g in bounded[: i + 1]]
    bound = min(worsts) if descending else max(worsts)
    keep.update(g[3] for g in bounded[: i + 1])
    keep.update(g[3] for g in bounded[i + 1:]
                if (g[0] >= bound if descending else g[0] <= bound))
    return keep
