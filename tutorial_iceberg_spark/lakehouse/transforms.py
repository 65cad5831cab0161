"""Partition transforms + metadata-level pruning.

Iceberg's hidden partitioning (README.md:990-992: ``ALTER TABLE ... ADD
PARTITION FIELD month(order_date)``) derives partition values from source
columns via transforms, so queries never reference partition columns
directly. This module provides each transform twice:

- as a Spark Column expression (used when WRITING a snapshot), and
- as a pure-Python value function (used when PLANNING: applying the
  transform to a predicate literal to prune manifest entries without
  touching data — the O(metadata) scan planning that matters at 100 TB).
"""

from __future__ import annotations

import re
from datetime import date, datetime, timezone
from typing import Any, Callable

from pyspark.sql import Column
from pyspark.sql import functions as F

from tutorial_iceberg_spark.lakehouse.metadata import PartitionField

_BUCKET_RE = re.compile(r"bucket\[(\d+)\]")
_TRUNCATE_RE = re.compile(r"truncate\[(\d+)\]")
_DECL_RE = re.compile(r"^\s*(\w+)\s*\(\s*(?:(\d+)\s*,\s*)?(\w+)\s*\)\s*$")


def parse_transform_decl(decl: str) -> tuple[str, str]:
    """'month(order_date)' -> ('month', 'order_date');
    'bucket(16, id)' -> ('bucket[16]', 'id'); bare column -> identity."""
    decl = decl.strip()
    m = _DECL_RE.match(decl)
    if not m:
        return "identity", decl
    fn, n, col = m.groups()
    fn = fn.lower()
    if fn in ("bucket", "truncate"):
        if not n:
            raise ValueError(f"{fn} transform needs a size: {decl!r}")
        return f"{fn}[{n}]", col
    if fn == "identity":
        return "identity", col
    if fn in ("year", "month", "day", "hour"):
        return fn, col
    raise ValueError(f"unknown partition transform: {decl!r}")


def transform_column(transform: str, col: str) -> Column:
    """Spark expression computing the partition value (write path)."""
    c = F.col(col)
    if transform == "identity":
        return c.cast("string")
    if transform == "year":
        return F.year(c).cast("string")
    if transform == "month":
        return F.date_format(c, "yyyy-MM")
    if transform == "day":
        return F.date_format(c, "yyyy-MM-dd")
    if transform == "hour":
        # zero-padded so lexicographic == chronological, like year/month/
        # day (Iceberg's hour transform, the last temporal granularity)
        return F.date_format(c, "yyyy-MM-dd-HH")
    m = _BUCKET_RE.match(transform)
    if m:
        return F.pmod(F.xxhash64(c), int(m.group(1))).cast("string")
    m = _TRUNCATE_RE.match(transform)
    if m:
        return F.substring(c.cast("string"), 1, int(m.group(1)))
    raise ValueError(f"unknown transform {transform!r}")


def _coerce_temporal(value: Any):
    if isinstance(value, str):
        try:
            return datetime.fromisoformat(value)
        except ValueError:
            return value
    return value


def transform_value(transform: str, value: Any) -> str | None:
    """Python-side transform of a predicate literal (planning path).
    Returns None when the transform can't be applied to this literal."""
    if transform == "identity":
        return str(value)
    v = _coerce_temporal(value)
    if isinstance(v, (datetime, date)):
        if transform == "year":
            return str(v.year)
        if transform == "month":
            return f"{v.year:04d}-{v.month:02d}"
        if transform == "day":
            return f"{v.year:04d}-{v.month:02d}-{v.day:02d}"
        if transform == "hour":
            hh = v.hour if isinstance(v, datetime) else 0
            return f"{v.year:04d}-{v.month:02d}-{v.day:02d}-{hh:02d}"
    m = _TRUNCATE_RE.match(transform)
    if m:
        return str(value)[: int(m.group(1))]
    return None  # bucket: only equality-capable with the same hash fn; skip


# ---------------------------------------------------------------------------
# Minimal conjunctive predicate parser for metadata pruning.
# Handles `col OP literal [AND ...]` (the shapes the curriculum uses:
# README.md:954-960, 1117). Anything it can't parse is simply not pruned on
# — correctness never depends on pruning.
# ---------------------------------------------------------------------------

_CMP_RE = re.compile(
    r"^\s*(\w+)\s*(=|==|!=|<>|<=|>=|<|>)\s*"
    r"(?:'([^']*)'|TIMESTAMP\s+'([^']*)'|DATE\s+'([^']*)'|(-?\d+(?:\.\d+)?))\s*$",
    re.IGNORECASE,
)


def parse_conjuncts(pred_sql: str) -> list[tuple[str, str, Any]] | None:
    """'a = 5 AND b > 2' -> [('a','=',5), ('b','>',2)]; None if unparseable."""
    parts = re.split(r"\s+AND\s+", pred_sql.strip(), flags=re.IGNORECASE)
    out = []
    for p in parts:
        m = _CMP_RE.match(p)
        if not m:
            return None
        col, op, s1, s2, s3, num = m.groups()
        if num is not None:
            val: Any = float(num) if "." in num else int(num)
        else:
            val = s1 if s1 is not None else (s2 if s2 is not None else s3)
        out.append((col, "=" if op == "==" else op, val))
    return out


def _cmp_key(value: Any):
    v = _coerce_temporal(value)
    if isinstance(v, datetime):
        if v.tzinfo is not None:
            # pyarrow footer stats of a UTC-adjusted timestamp column carry
            # '+00:00'; predicate literals are naive wall clock in the
            # session zone, which the engine pins to UTC (session.py) —
            # compare both as naive UTC or '03:00:00+00:00' sorts after
            # '03:00:00' and a file holding the boundary row is pruned
            v = v.astimezone(timezone.utc).replace(tzinfo=None)
        return v.isoformat(sep=" ")
    return v


def stats_may_match(stats_minmax: list | None, op: str, value: Any) -> bool:
    """Can a file with [min, max] stats contain rows matching `op value`?
    Conservative: unknown stats -> True."""
    if not stats_minmax:
        return True
    lo, hi = stats_minmax
    try:
        v = _cmp_key(value)
        lo, hi = _cmp_key(lo), _cmp_key(hi)
        if isinstance(v, (int, float)) and isinstance(lo, str):
            # Keep float bounds even for int literals: int() truncates
            # toward zero (int(-99.9) == -99), which could wrongly prune
            # 'price < -99' against a true min of -99.9. Python compares
            # int vs float exactly, so float bounds share one numeric
            # order with the manifest-level _stat_agg_key (r10 ADVICE).
            lo, hi = float(lo), float(hi)
        if isinstance(v, str) and isinstance(lo, (int, float)):
            lo, hi = str(lo), str(hi)
        if op in ("=", "=="):
            return lo <= v <= hi
        if op == "<":
            return lo < v
        if op == "<=":
            return lo <= v
        if op == ">":
            return hi > v
        if op == ">=":
            return hi >= v
        return True  # != can't prune on min/max
    except TypeError:
        return True


_HIVE_NULL = "__HIVE_DEFAULT_PARTITION__"
_INT_TYPES = {"tinyint", "smallint", "int", "integer", "bigint", "long"}
_LONG_TYPES = {"bigint", "long"}

# -- XXH64 for one 64-bit value: planning-side twin of Spark's xxhash64 ----
_M64 = (1 << 64) - 1
_XP1 = 0x9E3779B185EBCA87
_XP2 = 0xC2B2AE3D27D4EB4F
_XP3 = 0x165667B19E3779F9
_XP4 = 0x85EBCA77C2B2AE63
_XP5 = 0x27D4EB2F165667C5


def _rotl64(x: int, r: int) -> int:
    return ((x << r) | (x >> (64 - r))) & _M64


def xxh64_long(value: int, seed: int = 42) -> int:
    """XXH64 of a single 64-bit integer — bit-identical to Spark's
    ``xxhash64(bigint_col)`` (XxHash64.hashLong, default seed 42; verified
    value-for-value in tests). Lets the planner compute bucket[N] partition
    values for equality literals without touching the JVM."""
    v = value & _M64
    h = (seed + _XP5 + 8) & _M64
    k1 = (_rotl64((v * _XP2) & _M64, 31) * _XP1) & _M64
    h ^= k1
    h = (_rotl64(h, 27) * _XP1 + _XP4) & _M64
    h ^= h >> 33
    h = (h * _XP2) & _M64
    h ^= h >> 29
    h = (h * _XP3) & _M64
    h ^= h >> 32
    return h - (1 << 64) if h >= (1 << 63) else h


def _unescape_hive(pval: str) -> str:
    """Spark/Hive %-escape special chars (':' -> '%3A', '/' -> '%2F', ...)
    in partition directory values; undo before comparing to a literal."""
    from urllib.parse import unquote

    return unquote(pval)


def _identity_prunable(source_type: str | None, value: Any) -> bool:
    """Identity (and truncate) pruning compares the literal's str() against
    the writer's cast-to-string of the column value. Those formats provably
    agree only for integer columns with integer literals and string columns
    with string literals. Decimals ('25.5' vs '25.50'), floats, timestamps
    and DATE-vs-timestamp casts all diverge -> never prune on those
    (pruning must stay best-effort, never load-bearing: scan()'s contract,
    and _candidates also feeds delete()/update())."""
    if source_type is None:
        return False
    t = source_type.lower()
    if t in _INT_TYPES:
        return isinstance(value, int) and not isinstance(value, bool)
    if t == "string":
        return isinstance(value, str)
    return False


def partition_may_match(
    pfields: list[PartitionField],
    partition: dict[str, str],
    col: str,
    op: str,
    value: Any,
    source_types: dict[str, str] | None = None,
) -> bool:
    """Prune a file by its recorded partition values. Only equality and
    range ops on transforms whose output preserves ordering (identity
    restricted to int/string columns where str(literal) provably matches
    the writer's cast-to-string format; year/month/day are zero-padded ISO
    so lexicographic == chronological). `source_types` maps source column
    name -> Spark DDL type; without it identity/truncate never prune."""
    for pf in pfields:
        if pf.source != col:
            continue
        raw = partition.get(pf.name)
        if raw is None or raw == _HIVE_NULL:
            continue
        pval = _unescape_hive(raw)
        stype = (source_types or {}).get(pf.source)
        bm = _BUCKET_RE.match(pf.transform)
        if bm:
            # bucket[N]: EQUALITY-only pruning, and only where the planner
            # hash provably equals the writer's — Spark's xxhash64 encodes
            # int32 differently from int64, so gate to long columns with
            # int literals (pmod semantics match python % for N > 0)
            if (
                op in ("=", "==")
                and stype is not None
                and stype.lower() in _LONG_TYPES
                and isinstance(value, int)
                and not isinstance(value, bool)
            ):
                if pval != str(xxh64_long(value) % int(bm.group(1))):
                    return False
            continue
        if pf.transform == "identity" or pf.transform.startswith("truncate["):
            if not _identity_prunable(stype, value):
                continue
        tv = transform_value(pf.transform, value)
        if tv is None:
            continue
        if op in ("=", "=="):
            if pval != tv:
                return False
        elif pf.transform in ("year", "month", "day", "hour"):
            # coarse containment: file partition tv' vs literal's tv
            if op in ("<", "<=") and pval > tv:
                return False
            if op in (">", ">=") and pval < tv:
                return False
    return True
