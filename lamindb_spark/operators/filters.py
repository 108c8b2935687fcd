"""Django-lookup → Spark Column compiler and Q-object algebra.

The reference exposes filtering as keyword lookups
(``field__lookup=value``) and boolean Q trees (reference
``query_set.py:1520-1584``, lookups imported at
``query_manager.py:16-25``; Q exposed at ``lamindb/__init__.py:195``).
Here every lookup compiles to a native Column expression, so the whole
predicate stays inside Catalyst — pushdown-able into the parquet scan,
no Python in the hot path.

Relation traversal (``run__transform__key="x"``) is handled one level
up by the query layer (see ``operators.joins``): the compiler receives a
``resolver`` mapping a dotted field path to a Column.

``arrow_mask`` evaluates the same lookups over pyarrow arrays for
registry sets read on the driver (``catalog.query``); it covers only
the lookups and value types whose answer equals the Column's.
"""

from __future__ import annotations

import re
from functools import reduce
from operator import and_, or_
from typing import Any, Callable

import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import Column
from pyspark.sql import functions as F

Resolver = Callable[[str], Column]


def _ci(col: Column) -> Column:
    return F.lower(col)


def _as_lit_list(value: Any) -> list:
    if isinstance(value, (list, tuple, set)):
        return list(value)
    raise TypeError(f"__in lookup requires list/tuple/set, got {type(value).__name__}")


# lookup name → (column, value) → boolean Column
# Set mirrors what the reference actually uses (SURVEY §2.2 F1).
_LOOKUPS: dict[str, Callable[[Column, Any], Column]] = {
    "exact": lambda c, v: c.isNull() if v is None else c == F.lit(v),
    "iexact": lambda c, v: _ci(c) == F.lit(str(v).lower()),
    "contains": lambda c, v: c.contains(str(v)),
    "icontains": lambda c, v: _ci(c).contains(str(v).lower()),
    "startswith": lambda c, v: c.startswith(str(v)),
    "istartswith": lambda c, v: _ci(c).startswith(str(v).lower()),
    "endswith": lambda c, v: c.endswith(str(v)),
    "iendswith": lambda c, v: _ci(c).endswith(str(v).lower()),
    "in": lambda c, v: c.isin(_as_lit_list(v)),
    "gt": lambda c, v: c > F.lit(v),
    "gte": lambda c, v: c >= F.lit(v),
    "lt": lambda c, v: c < F.lit(v),
    "lte": lambda c, v: c <= F.lit(v),
    "isnull": lambda c, v: c.isNull() if v else c.isNotNull(),
    "regex": lambda c, v: c.rlike(str(v)),
    "iregex": lambda c, v: c.rlike("(?i)" + str(v)),
    "range": lambda c, v: (c >= F.lit(v[0])) & (c <= F.lit(v[1])),
}

LOOKUP_NAMES = frozenset(_LOOKUPS)

# lookup name → (pyarrow array, value) → boolean mask, for lookups whose
# filter result equals the Column above (nulls drop out of both). Left
# out: ``regex``/``iregex`` (Java regex is not RE2) and the ``i*``
# lookups (Java's and utf8proc's case folding differ beyond ASCII).
_ARROW_LOOKUPS: dict[str, Callable[[Any, Any], Any]] = {
    "exact": lambda c, v: pc.is_null(c) if v is None else pc.equal(c, v),
    "contains": lambda c, v: pc.match_substring(c, str(v)),
    "startswith": lambda c, v: pc.starts_with(c, str(v)),
    "endswith": lambda c, v: pc.ends_with(c, str(v)),
    "in": lambda c, v: pc.is_in(c, value_set=pa.array(list(v), c.type), skip_nulls=True),
    "gt": pc.greater,
    "gte": pc.greater_equal,
    "lt": pc.less,
    "lte": pc.less_equal,
    "isnull": lambda c, v: pc.is_null(c) if v else pc.is_valid(c),
    "range": lambda c, v: pc.and_(pc.greater_equal(c, v[0]), pc.less_equal(c, v[1])),
}

ARROW_LOOKUP_NAMES = frozenset(_ARROW_LOOKUPS)


def _arrow_scalar_ok(t: pa.DataType, v: Any) -> bool:
    """``v`` compares with a ``t`` array without a Spark implicit cast.
    Timestamps never do: a naive ``datetime`` literal depends on the
    session time zone."""
    if pa.types.is_string(t) or pa.types.is_large_string(t):
        return isinstance(v, str)
    if pa.types.is_boolean(t):
        return isinstance(v, bool)
    if isinstance(v, bool) or not isinstance(v, (int, float)):
        return False
    if pa.types.is_integer(t):
        return isinstance(v, int) and -(1 << 63) <= v < (1 << 63)
    # Spark orders NaN above every double; Arrow compares it false
    return pa.types.is_floating(t) and v == v


def arrow_lookup_ok(op: str, t: pa.DataType, value: Any) -> bool:
    """``arrow_mask(op, column, value)`` equals the Spark lookup for a
    column of type ``t``."""
    if op not in _ARROW_LOOKUPS:
        return False
    if op == "isnull" or (op == "exact" and value is None):
        return True
    if op in ("contains", "startswith", "endswith"):
        return pa.types.is_string(t) or pa.types.is_large_string(t)
    if op == "in":
        return isinstance(value, (list, tuple, set)) and all(
            v is None or _arrow_scalar_ok(t, v) for v in value
        )
    if op == "range":
        return (
            isinstance(value, (list, tuple))
            and len(value) == 2
            and all(_arrow_scalar_ok(t, v) for v in value)
        )
    return _arrow_scalar_ok(t, value)


def arrow_mask(op: str, column, value):
    """Boolean mask of ``column`` for lookup ``op`` (see
    ``arrow_lookup_ok`` for when it equals the Spark lookup)."""
    return _ARROW_LOOKUPS[op](column, value)


def split_lookup(key: str) -> tuple[str, str]:
    """``"price__gte" -> ("price", "gte")``; bare key means exact.

    Only the LAST ``__`` segment may be a lookup; earlier segments are
    relation/field path (resolved by the caller).
    """
    if "__" in key:
        path, _, last = key.rpartition("__")
        if last in _LOOKUPS:
            return path, last
    return key, "exact"


def compile_lookup(key: str, value: Any, resolver: Resolver | None = None) -> Column:
    path, op = split_lookup(key)
    col = resolver(path) if resolver else F.col(path)
    return _LOOKUPS[op](col, value)


class Q:
    """Boolean predicate tree, combinable with ``& | ~`` like the
    reference's Q objects (used e.g. ``artifact_set.py:398-420``)."""

    AND = "AND"
    OR = "OR"

    def __init__(self, **kwargs: Any) -> None:
        self.children: list[Any] = list(kwargs.items())
        self.connector = self.AND
        self.negated = False

    @classmethod
    def _combine(cls, lhs: "Q", rhs: "Q", conn: str) -> "Q":
        q = cls()
        q.connector = conn
        q.children = [lhs, rhs]
        return q

    def __and__(self, other: "Q") -> "Q":
        return self._combine(self, other, self.AND)

    def __or__(self, other: "Q") -> "Q":
        return self._combine(self, other, self.OR)

    def __invert__(self) -> "Q":
        q = Q()
        q.children = [self]
        q.negated = True
        return q

    def to_column(self, resolver: Resolver | None = None) -> Column:
        parts: list[Column] = []
        for child in self.children:
            if isinstance(child, Q):
                parts.append(child.to_column(resolver))
            else:
                k, v = child
                parts.append(compile_lookup(k, v, resolver))
        if not parts:
            out = F.lit(True)
        else:
            out = reduce(and_ if self.connector == self.AND else or_, parts)
        return ~out if self.negated else out


def compile_filters(
    *qs: Q, resolver: Resolver | None = None, **kwargs: Any
) -> Column:
    """AND of positional Q objects and keyword lookups → one Column."""
    conds = [q.to_column(resolver) for q in qs]
    conds += [compile_lookup(k, v, resolver) for k, v in kwargs.items()]
    if not conds:
        return F.lit(True)
    return reduce(and_, conds)


def escape_regex(value: str) -> str:
    """Literal-escape user input before rlike (reference escapes search
    strings the same way, ``query_manager.py:106``)."""
    return re.escape(value)
