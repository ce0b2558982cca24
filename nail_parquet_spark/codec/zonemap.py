"""Zone maps: the one owner of the per-block ``min_val``/``max_val`` contract.

Encode renders each block's min and max with :func:`render`
(``str(value)[:RENDER_CAP]``). Block pruning, metadata-answered counts,
exact column and group stats, and top-k pruning all read those strings back
through this module, so one set of rules holds everywhere:

- a column's :class:`StatKind` (from its header type) says how a render
  reads back: a monotone Python parse on the driver, and a Spark
  ``try_cast`` for the distributed column and group stats. Binary, list
  and other kinds carry no stats;
- pruning, count classification and both top-k pruners decide on the
  driver, over the rows of the block index (:mod:`codec.blockindex`):
  :func:`block_class` sorts a block into matches-nothing, boundary or
  matches-every-non-null-row, and :func:`topk_keep` bounds a top-k;
- a literal is compared the way the residual filter compares it with the
  column (:func:`coerce`): an int stat against a float literal compares as
  a float, NaN sorts largest, naive timestamp strings are read in the
  session time zone, and dates and timestamps take a strict ISO grammar.
  A literal outside those rules decides nothing, so the residual filter
  sees every row, and raises where plain Spark raises;
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
import re
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


def _float_key(v: float) -> tuple[int, float]:
    # Spark orders NaN above +inf and equal to itself; encode stamps
    # max='nan' on NaN-bearing blocks
    return (1, 0.0) if v != v else (0, v)


def _parse_float(s: str) -> tuple[int, float]:
    return _float_key(float(s))


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
# Catalyst side: the distributed column and group stats
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


# ---------------------------------------------------------------------------
# driver side: the block index rows
# ---------------------------------------------------------------------------

NONE, BOUNDARY, FULL = 0, 1, 2  # block classes: see block_class

_DATE_RE = re.compile(r"\d{4}-\d{2}-\d{2}")
_TS_RE = re.compile(r"\d{4}-\d{2}-\d{2}"
                    r"([ T]\d{2}:\d{2}:\d{2}(\.\d{1,6})?(Z|[+-]\d{2}:\d{2})?)?")


def check_prefix(kind: StatKind | None, op: str) -> None:
    if op == "prefix" and (kind is None or not kind.is_str):
        raise ValueError("prefix predicate is only valid on string columns")


def _iso(typ, grammar: re.Pattern, s: str):
    """``s`` parsed as ``typ`` when it matches the strict ``grammar`` and
    names a real date or time, else None (Spark refuses it too)."""
    try:
        return typ.fromisoformat(s) if grammar.fullmatch(s) else None
    except ValueError:
        return None


def _ts_literal(value, aware: bool, tz: str | None):
    """A timestamp literal as Spark casts it for a timestamp column, or
    None. ``aware``: the column is a session-time-zone timestamp (renders
    carry an offset); otherwise it is a wall-clock one."""
    if isinstance(value, str):
        v = _iso(_dt.datetime, _TS_RE, value)
        if v is None:
            return None
        if v.tzinfo is None and aware and tz is not None:
            from zoneinfo import ZoneInfo

            v = v.replace(tzinfo=ZoneInfo(tz))
    elif isinstance(value, _dt.datetime) and aware:
        # PySpark reads a naive datetime in the local time zone
        v = value if value.tzinfo is not None else value.astimezone()
    else:
        return None
    return v if (v.tzinfo is not None) == aware else None


def coerce(headers: dict, column: str, op: str, value, tz: str | None = None):
    """``(parse, v)``: the literal ``v`` (a list for ``in``) and a parse
    of a stat render into the domain in which the residual filter compares
    them, or None when the comparison is not one of the rules in the
    module docstring (or the IN list is over ``IN_PRUNE_CAP``). ``tz`` is
    the session time zone."""
    if op == "in":
        vals = list(value)
        if len(vals) > IN_PRUNE_CAP:
            return None
        one = [coerce(headers, column, "=", x, tz) for x in vals]
        if any(c is None for c in one) or len({c[0] for c in one}) > 1:
            return None
        return (one[0][0] if one else str), [c[1] for c in one]
    kind = stat_kind(headers, column)
    if kind is None or value is None:
        return None
    if kind is _STR:
        return (str, value) if isinstance(value, str) else None
    if kind is _BOOL:
        return (_parse_bool, value) if isinstance(value, bool) else None
    if kind is _DATE:
        v = (_iso(_dt.date, _DATE_RE, value) if isinstance(value, str)
             else value if type(value) is _dt.date else None)
        return None if v is None else (_DATE.parse, v)
    if kind is _TS:
        from nail_parquet_spark.codec.kernels import _type_from_str

        aware = _type_from_str(headers[column]["type"]).tz is not None
        v = _ts_literal(value, aware, tz)
        return None if v is None else (_TS.parse, v)
    if isinstance(value, bool) or not isinstance(value, (int, float)):
        return None
    if isinstance(value, int) and not -2 ** 63 <= value < 2 ** 63:
        return None
    if kind is _INT and isinstance(value, int):
        return int, value
    if kind is _INT:
        return _int_as_float, _float_key(value)
    return _parse_float, _float_key(float(value))


def _int_as_float(s: str) -> tuple[int, float]:
    return _float_key(float(int(s)))


def _decide(op: str, v, lo, hi, lo_exact: bool, hi_s: str):
    """(some row may match, every non-null row matches) for one block's
    parsed bounds; a max of None (truncated) bounds nothing."""
    hi_exact = hi is not None
    if op == "in":
        return (any(lo <= x and (not hi_exact or hi >= x) for x in v),
                lo_exact and hi_exact and lo == hi and lo in v)
    if op == "!=":
        # only a block provably constant-equal to v has no match
        exact = lo_exact and hi_exact
        return (not (exact and lo == v and hi == v),
                exact and (hi < v or lo > v))
    if op == "prefix":
        # strings with prefix p form the interval [p, p⁺). A block may hold
        # one iff hi >= p and (lo <= p OR lo itself starts with p) — valid
        # under min truncation: a truncated lo is a prefix of the true lo,
        # so it is <= p whenever the true lo's first len(lo) chars sit
        # within p, and startswith still fires when the truncation kept at
        # least len(p) chars. Both stats starting with p is exact under
        # truncation too, since a render's first chars are exact.
        return ((lo <= v or lo.startswith(v)) and (not hi_exact or hi >= v),
                lo.startswith(v) and hi_s.startswith(v))
    if op in ("=", "=="):
        return (lo <= v and (not hi_exact or hi >= v),
                lo_exact and hi_exact and lo == v and hi == v)
    if op == ">=":
        return not hi_exact or hi >= v, lo_exact and lo >= v
    if op == ">":
        return not hi_exact or hi > v, lo_exact and lo > v
    if op == "<=":
        return lo <= v, hi_exact and hi <= v
    return lo < v, hi_exact and hi < v  # "<"


def block_class(kind: StatKind | None, op: str, lit, n_rows: int,
                null_count: int, lo_s: str | None, hi_s: str | None) -> int:
    """``NONE`` (no row of the block matches ``column op value``),
    ``FULL`` (every non-null row does) or ``BOUNDARY`` (only a decode can
    tell) for a value predicate, whose literal ``lit`` is :func:`coerce`'s
    result. The stats read back through :func:`parse_stats` in the
    literal's domain. A literal that does not coerce, missing or unparsed
    stats and incomparable values all give ``BOUNDARY``: they never
    decide."""
    if lit is None or kind is None:
        return BOUNDARY
    if null_count >= n_rows:
        return NONE  # nulls never match a value predicate
    parse, v = lit
    b = parse_stats(kind._replace(parse=parse), lo_s, hi_s)
    if b is None:
        return BOUNDARY
    lo_exact = not kind.is_str or len(lo_s) < RENDER_CAP
    try:
        may, full = _decide(op, v, *b, lo_exact, hi_s)
    except TypeError:
        return BOUNDARY
    return (FULL if full else BOUNDARY) if may else NONE


def null_keep(op: str, n_rows: int, null_count: int) -> bool:
    """Prune rule of ``isnull``/``notnull``, from the null counters kept
    for every column type."""
    return null_count > 0 if op == "isnull" else null_count < n_rows


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
