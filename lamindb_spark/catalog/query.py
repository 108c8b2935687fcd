"""QuerySet — the reference's registry query surface on DataFrames.

Mirrors ``BasicQuerySet``/``QuerySet`` (reference
``query_set.py:1520-1584`` filter, ``:308-366`` get, ``:93-116``
one/first, ``:1142-1298`` to_dataframe) and the related-path semantics
of Django lookups:

- ``filter(key__lookup=value, ...)`` / Q objects — compiled by
  ``operators.filters`` to one Column predicate;
- relation paths (``run__transform__key="x"``) — resolved BACKWARD as
  chained semi-joins through the declared relation graph, so filtered
  entities are never fanned out by 1:N joins (reference J6 fanout
  avoidance, ``query_set.py:1226-1240``);
- EAV feature filters (``features__temperature__gt=21``) — semi-joins
  against the annotation long table (F5);
- default branch injection unless id/uid/hash is queried (F3,
  ``query_set.py:273-293``).

A QuerySet records its steps and is evaluated when a terminal op runs
(as in Django), against the registry files live at that moment. A set
of positive keyword filters, ``order_by`` and ``limit`` over local
registries within ``lakehouse._DRIVER_READ_MAX_BYTES`` is evaluated on
the driver with pyarrow and runs no Spark job; any other set replays
its steps into the DataFrame plan described above.
"""

from __future__ import annotations

import copy
import json
import logging
import math
from dataclasses import dataclass
from typing import Any

import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..operators.filters import (
    LOOKUP_NAMES,
    Q,
    arrow_lookup_ok,
    arrow_mask,
    compile_lookup,
    split_lookup,
)
from ..operators.search import search as search_op
from .schemas import MAIN_BRANCH_ID, REGISTRY_SCHEMAS

logger = logging.getLogger("lamindb_spark")

# reference query_manager.py:33 — the interactive-export default limit
SEARCH_QUERY_DEFAULT_LIMIT = 20


@dataclass(frozen=True)
class Rel:
    """Relation edge. FK (to-one): ``source.local_key ==
    target.remote_key``. M2M (``bridge`` set): ``source.local_key ==
    bridge.bridge_local`` and ``bridge.bridge_remote ==
    target.remote_key`` (reference ManyToManyField through-tables,
    e.g. ``ulabel.py:286`` ArtifactULabel)."""

    target: str
    local_key: str
    remote_key: str = "id"
    bridge: str | None = None
    bridge_local: str | None = None   # bridge column referencing source
    bridge_remote: str | None = None  # bridge column referencing target

    @property
    def to_many(self) -> bool:
        return self.bridge is not None


# relation graph (reference: FK fields on the Django models, SURVEY §2.3)
RELATIONS: dict[str, dict[str, Rel]] = {
    "artifact": {
        "run": Rel("run", "run_id"),
        "storage": Rel("storage", "storage_id"),
        "schema": Rel("schema", "schema_id"),
        # M2M label path — filter(ulabels__name=...) (reference
        # query_manager.py:304-349)
        "ulabels": Rel("ulabel", "id", bridge="artifact_ulabels",
                       bridge_local="artifact_id", bridge_remote="ulabel_id"),
        "projects": Rel("project", "id", bridge="artifact_projects",
                        bridge_local="artifact_id", bridge_remote="project_id"),
    },
    "run": {"transform": Rel("transform", "transform_id")},
    "record": {"type": Rel("record", "type_id"), "schema": Rel("schema", "schema_id")},
    "ulabel": {
        "type": Rel("ulabel", "type_id"),
        "artifacts": Rel("artifact", "id", bridge="artifact_ulabels",
                         bridge_local="ulabel_id", bridge_remote="artifact_id"),
    },
    "feature": {"type": Rel("feature", "type_id")},
    "collection": {
        "artifacts": Rel("artifact", "id", bridge="collection_artifacts",
                         bridge_local="collection_id", bridge_remote="artifact_id"),
        "ulabels": Rel("ulabel", "id", bridge="collection_ulabels",
                       bridge_local="collection_id", bridge_remote="ulabel_id"),
        "projects": Rel("project", "id", bridge="collection_projects",
                        bridge_local="collection_id", bridge_remote="project_id"),
    },
    "project": {
        "type": Rel("project", "type_id"),
        "artifacts": Rel("artifact", "id", bridge="artifact_projects",
                         bridge_local="project_id", bridge_remote="artifact_id"),
    },
    "reference": {"type": Rel("reference", "type_id")},
    "transform": {},
    "storage": {},
    "schema": {},
    "branch": {},
    "space": {},
    "user": {},
}

# fields whose presence bypasses the default branch filter (reference
# query_set.py:273-293: querying by exact identity sees all branches)
_IDENTITY_FIELDS = {"id", "uid", "hash"}

# field alias map (reference map_query_kwargs, query_set.py:119-213)
_FIELD_ALIASES = {"version": "version_tag", "status": "status_code"}


class FeaturePredicate:
    """Comparison on an EAV feature, built by :class:`Feature` operator
    overloads (reference ``feature.py:76-87, 1388-1429``; F6). Passed
    positionally to ``QuerySet.filter``/``exclude``."""

    def __init__(self, name: str, op: str, value):
        self.name = name
        self.op = op
        self.value = value


class Feature:
    """Predicate builder: ``QuerySet(...).filter(Feature("gc") > 0.5)``."""

    def __init__(self, name: str):
        self.name = name

    def __eq__(self, other):  # type: ignore[override]
        return FeaturePredicate(self.name, "exact", other)

    def __ne__(self, other):  # type: ignore[override]
        return FeaturePredicate(self.name, "__NE__", other)

    def __gt__(self, other):
        return FeaturePredicate(self.name, "gt", other)

    def __ge__(self, other):
        return FeaturePredicate(self.name, "gte", other)

    def __lt__(self, other):
        return FeaturePredicate(self.name, "lt", other)

    def __le__(self, other):
        return FeaturePredicate(self.name, "lte", other)

    def is_null(self, value: bool = True):
        return FeaturePredicate(self.name, "isnull", value)

    __hash__ = None  # predicate builder, not a value


class DoesNotExist(LookupError):
    pass


class MultipleResultsFound(LookupError):
    pass


class _Fallback(Exception):
    """The driver cannot reproduce Spark's answer for this set; its
    Spark plan runs instead."""


def _json_scalar(text: str, ctx: str):
    """``get_json_object(text, '$')`` (``ctx='str'``), ``try_cast`` to
    double (``'num'``) or boolean (``'bool'``), as Spark computes them;
    raises ``_Fallback`` where Python's reading could differ from
    Jackson's: unparseable text (Jackson may read a prefix), lists and
    dicts (Jackson re-serializes them), non-finite numbers, floats as
    text (JVM ``Double.toString`` is not Python's ``repr``) and
    strings under a cast (Spark's cast trims and parses the text)."""
    try:
        v = json.loads(text)
    except ValueError:
        raise _Fallback from None
    if isinstance(v, (list, dict)) or (isinstance(v, float) and not math.isfinite(v)):
        raise _Fallback
    if ctx == "str":
        if isinstance(v, bool):
            return "true" if v else "false"
        if v is None:
            return "null"  # a JSON null renders as the string 'null'
        if isinstance(v, float):
            raise _Fallback
        v = str(v)
        try:
            v.encode("utf-8")
        except UnicodeEncodeError:  # a lone surrogate escape
            raise _Fallback from None
        return v
    if isinstance(v, str):
        raise _Fallback
    if v is None or isinstance(v, bool):
        return v if ctx == "bool" else None
    if ctx == "num":
        try:
            return float(v)
        except OverflowError:
            raise _Fallback from None
    # 'true'/'false'/'1'/'0' cast to boolean; a float always renders
    # with '.' or 'E', so never does
    return {1: True, 0: False}.get(v) if isinstance(v, int) else None


_JSON_TYPES = {"str": pa.string(), "num": pa.float64(), "bool": pa.bool_()}


def _json_column(column, ctx: str):
    """``_json_scalar`` over an Arrow ``value_json`` column, parsing
    each distinct text once; null stays null (as under Spark)."""
    enc = pc.dictionary_encode(column.combine_chunks())
    values = [_json_scalar(t, ctx) for t in enc.dictionary.to_pylist()]
    return pa.array(values, _JSON_TYPES[ctx]).take(enc.indices)


def _is_in(column, ids):
    """Semi-join mask: ``column`` values in the id set ``ids`` (a null
    matches nothing, as in an equi-join)."""
    if isinstance(ids, pa.ChunkedArray):
        ids = ids.combine_chunks()
    return pc.is_in(column, value_set=ids.cast(column.type), skip_nulls=True)


def _sort_indices(table, keys: list[tuple[str, bool]]):
    """Stable sort order of ``table`` by (column, descending) keys in
    Spark's null order: nulls first ascending, last descending, i.e.
    nulls sort as the smallest value either way."""
    cols, sort_keys = {}, []
    for i, (col, desc) in enumerate(keys):
        order = "descending" if desc else "ascending"
        cols[f"v{i}"] = pc.is_valid(table[col])
        cols[f"k{i}"] = table[col]
        sort_keys += [(f"v{i}", order), (f"k{i}", order)]
    return pc.sort_indices(pa.table(cols), sort_keys=sort_keys)


def _arrow_to_pandas(spark, table, fields):
    """``table`` (typed as Spark's Arrow transfer types ``fields``) as
    the pandas frame ``DataFrame.toPandas()`` builds from the same
    batches: pyarrow's conversion, then pyspark's per-field converter
    in the session time zone."""
    import pandas as pd
    from pyspark.sql.pandas.types import _create_converter_to_pandas

    names = [f.name for f in fields]
    if table.num_rows:
        pdf = table.rename_columns([f"col_{i}" for i in range(len(names))]).to_pandas(
            date_as_object=True, coerce_temporal_nanoseconds=True
        )
        pdf.columns = names
    else:
        pdf = pd.DataFrame(columns=names)
    tz = spark._jconf.sessionLocalTimeZone()
    return pd.concat(
        [
            _create_converter_to_pandas(
                f.dataType, f.nullable, timezone=tz, error_on_duplicated_field_names=False
            )(pser)
            for (_, pser), f in zip(pdf.items(), fields)
        ],
        axis="columns",
    )


class QuerySet:
    """Lazy, immutable query over one registry: the ops applied to it
    are recorded as steps and run when a terminal op (``to_list``,
    ``count``, ``first``, ``get``, ``to_dataframe``, ...) evaluates
    the set, as in Django. A set then reads the registry files live
    at that moment, on the driver when it can (see ``_on_driver``),
    else as the Spark plan ``_df`` replays from the steps."""

    def __init__(self, lakehouse, registry: str, df: DataFrame | None = None,
                 branch_filtered: bool = False, ordered: bool = False):
        self.lh = lakehouse
        self.registry = registry
        self._base = df  # a caller's plan to start from: Spark-only
        self._branch_filtered = branch_filtered
        self._ordered = ordered
        self._steps: tuple = ()
        # the set's columns, known without building a plan
        self._columns = list(df.columns if df is not None else REGISTRY_SCHEMAS[registry].names)

    @property
    def _df(self) -> DataFrame:
        """The set's Spark plan, replayed from the steps over a fresh
        registry scan each time it is read."""
        df = self._base if self._base is not None else self.lh.read_raw(self.registry)
        for step in self._steps:
            df = self._replay(df, *step)
        return df

    # ------------------------------------------------------------ internals

    def _with(self, step: tuple, branch_filtered: bool | None = None,
              ordered: bool | None = None, columns: list[str] | None = None) -> "QuerySet":
        qs = copy.copy(self)
        qs._steps = self._steps + (step,)
        if branch_filtered is not None:
            qs._branch_filtered = branch_filtered
        if ordered is not None:
            qs._ordered = ordered
        if columns is not None:
            qs._columns = list(columns)
        return qs

    def _replay(self, df: DataFrame, kind: str, *args) -> DataFrame:
        if kind == "branch":
            return df.filter(self._branch_predicate())
        if kind == "filter":
            return self._apply_positive(df, *args)
        if kind == "exclude":
            return self._apply_negative(df, *args)
        if kind == "order_by":
            return df.orderBy(*[
                F.col(f[1:]).desc() if f.startswith("-") else F.col(f).asc() for f in args[0]
            ])
        if kind == "limit":
            return df.limit(args[0])
        if kind == "slice":
            start, stop = args
            df = df.offset(start) if start else df
            return df if stop is None else df.limit(max(stop - start, 0))
        if kind == "values":
            return df.select(*args[0])
        if kind == "distinct":
            return df.distinct()
        if kind == "where":
            return df.filter(args[0])
        query, fields, limit, truncate_string = args  # "search"
        if fields is None:
            preferred = [c for c in ("name", "key", "description") if c in df.columns]
            fields = preferred or [
                c for c, t in df.dtypes if t == "string" and c not in ("uid",)
            ]
        syn = "synonyms" if "synonyms" in df.columns else None
        return search_op(
            df, query, fields=fields, synonyms_field=syn, limit=limit,
            truncate_string=truncate_string,
        )

    def _branch_predicate(self) -> Column:
        return F.col("branch_id").isin([self.lh.current_branch_id, MAIN_BRANCH_ID])

    def _needs_branch_filter(self, keys: list[str]) -> bool:
        if self._branch_filtered or "branch_id" not in self._columns:
            return False
        roots = {split_lookup(k)[0].split("__", 1)[0] for k in keys}
        return not (roots & _IDENTITY_FIELDS)

    @staticmethod
    def _q_lookup_keys(q) -> list[str]:
        """Lookup keys inside a (non-negated) Q tree — so a positive
        identity lookup written as ``Q(uid=...)`` gets the same
        sees-all-branches semantics as the kwargs form (review
        finding: the two forms diverged)."""
        if getattr(q, "negated", False):
            return []
        out: list[str] = []
        for child in getattr(q, "children", []):
            if isinstance(child, Q):
                out.extend(QuerySet._q_lookup_keys(child))
            else:
                out.append(child[0])
        return out

    @staticmethod
    def _q_leaves(q) -> list[str]:
        """Every lookup key in a Q tree, negated branches included."""
        out: list[str] = []
        for child in q.children:
            out.extend(QuerySet._q_leaves(child) if isinstance(child, Q) else [child[0]])
        return out

    def _resolve_field(self, path: str, columns: list[str]) -> str:
        """Column name for a Q-object field: applies the same alias map
        as the kwargs path and fails FAST (with the F11 suggestion) on
        fields the bare-Column path cannot express — without this,
        ``Q(version='1')`` compiled to the nonexistent ``version``
        column and relation/EAV paths died later with an opaque
        UNRESOLVED_COLUMN."""
        path = _FIELD_ALIASES.get(path, path)
        if path in columns:
            return path
        if path == "features" or path.startswith("features__"):
            raise ValueError(
                f"EAV lookup {path!r} needs a join and cannot appear "
                "inside a Q object — pass it as a keyword lookup "
                "(.filter(features__x=...)) or a Feature predicate"
            )
        if self._relation_path(path) is not None:
            raise ValueError(
                f"relation lookup {path!r} needs a join and cannot "
                "appear inside a Q object — pass it as a keyword "
                "lookup (.filter(a__b__field=...))"
            )
        raise ValueError(
            f"unknown field {path!r} on {self.registry}; "
            f"available: {sorted(columns)}"
        )

    def _check_lookups(self, qs_args: tuple, kwargs: dict) -> None:
        """Raise at ``filter``/``exclude`` time for what the plan would
        reject: unknown fields, a bare ``features`` lookup, and Q
        objects over relation or EAV paths."""
        for q in qs_args:
            if isinstance(q, Q):
                for k in self._q_leaves(q):
                    self._resolve_field(split_lookup(k)[0], self._columns)
        for key in kwargs:
            path = split_lookup(key)[0]
            path = _FIELD_ALIASES.get(path, path)
            if path == "features":
                raise ValueError("features filter requires a feature name")
            if (
                not path.startswith("features__")
                and self._relation_path(path) is None
                and path not in self._columns
            ):
                raise ValueError(
                    f"unknown field {path!r} on {self.registry}; "
                    f"available: {sorted(self._columns)}"
                )

    def _relation_path(self, path: str) -> tuple[list[tuple[str, Rel]], str] | None:
        """Split ``a__b__field`` into relation hops + terminal field, or
        None if the first segment is a plain column."""
        parts = path.split("__")
        rels: list[tuple[str, Rel]] = []
        current = self.registry
        i = 0
        while i < len(parts):
            rel = RELATIONS.get(current, {}).get(parts[i])
            if rel is None:
                break
            rels.append((current, rel))
            current = rel.target
            i += 1
        if not rels:
            return None
        field = "__".join(parts[i:]) or "id"
        return rels, field

    def _compile_predicate(self, key: str, value: Any, columns: list[str]) -> tuple[Column | None, DataFrame | None, str | None]:
        """Returns (column_predicate, semi_join_df, join_key): plain
        fields compile to a Column; relation paths compile to an id-set
        DataFrame to semi-join on the FK column."""
        path, op = split_lookup(key)
        path = _FIELD_ALIASES.get(path, path)
        if path == "features" or path.startswith("features__"):
            return self._feature_predicate(path, op, value)
        rp = self._relation_path(path)
        if rp is None:
            if path not in columns:
                raise ValueError(
                    f"unknown field {path!r} on {self.registry}; "
                    f"available: {sorted(columns)}"
                )
            return compile_lookup(f"{path}__{op}", value), None, None
        rels, field = rp
        # backward traversal: filter the innermost registry, then walk
        # the relation chain back up as semi-joins — never a fanout
        # join. M2M hops route the id-set through the bridge table.
        last = rels[-1][1]
        target_df = self.lh.read_raw(last.target)
        pred = compile_lookup(f"{field}__{op}", value)
        ids = target_df.filter(pred).select(F.col(last.remote_key).alias("__k"))
        ids = self._back_through_bridge(last, ids)
        for i in range(len(rels) - 2, -1, -1):
            rel = rels[i][1]          # edge whose target holds the FK
            inner = rels[i + 1][1]    # edge we just resolved ids for
            t = self.lh.read_raw(rel.target)
            t = t.join(ids, t[inner.local_key] == ids["__k"], "left_semi")
            ids = t.select(F.col(rel.remote_key).alias("__k"))
            ids = self._back_through_bridge(rel, ids)
        return None, ids, rels[0][1].local_key

    def _back_through_bridge(self, rel: Rel, ids: DataFrame) -> DataFrame:
        """For an M2M edge, convert target-id set → source-side id set
        via the bridge. No ``distinct``: the bridge may link one source
        to many matching targets, but the set only feeds semi/anti
        joins, which never fan out (reference J6)."""
        if rel.bridge is None:
            return ids
        br = self.lh.read_raw(rel.bridge)
        return br.join(ids, br[rel.bridge_remote] == ids["__k"], "left_semi").select(
            F.col(rel.bridge_local).alias("__k")
        )

    def _feature_predicate(self, path: str, op: str, value: Any) -> tuple[None, DataFrame, str]:
        """EAV filter: ``features__<name>[__op]=value`` → entity-id set
        from the annotation table (reference F5/F6/F7), for semi/anti
        joins only (so no ``distinct``)."""
        parts = path.split("__")
        fname = parts[1] if len(parts) > 1 else None
        if fname is None:
            raise ValueError("features filter requires a feature name")
        ann = self.lh.read_raw("annotation").filter(
            (F.col("entity_kind") == self.registry) & (F.col("feature_name") == fname)
        )
        val_str = F.get_json_object(F.col("value_json"), "$")
        if op == "isnull":
            # presence/absence (reference _feature_manager.py:855-877)
            ids = ann.select(F.col("entity_id").alias("__k"))
            if value:
                return None, ids, "__ANTI__id"
            return None, ids, "id"
        if isinstance(value, bool):
            col = val_str.try_cast("boolean")
        elif isinstance(value, (int, float)):
            col = val_str.try_cast("double")
            value = float(value)
        else:
            col = val_str
        pred = compile_lookup(f"v__{op}", value, resolver=lambda _p: col)
        ids = ann.filter(pred).select(F.col("entity_id").alias("__k"))
        return None, ids, "id"

    def _is_join_lookup(self, key: str) -> bool:
        """True if the lookup resolves through a join (relation path or
        EAV feature) rather than a plain column predicate."""
        path, _op = split_lookup(key)
        path = _FIELD_ALIASES.get(path, path)
        if path == "features" or path.startswith("features__"):
            return True
        return self._relation_path(path) is not None

    def _join_based(self, qs_args: tuple, kwargs: dict) -> bool:
        keys = list(kwargs) + [
            k for q in qs_args if isinstance(q, Q) for k in self._q_lookup_keys(q)
        ]
        return any(isinstance(q, FeaturePredicate) for q in qs_args) or any(
            self._is_join_lookup(k) for k in keys
        )

    def _apply_positive(self, df: DataFrame, qs_args: tuple, kwargs: dict) -> DataFrame:
        """Conjunction of all conditions: plain columns as one filter,
        relation/feature paths as semi-joins (never fanout joins)."""
        columns = df.columns
        conds: list[Column] = []
        for q in qs_args:
            if isinstance(q, FeaturePredicate):
                # __NE__ = anti-join of the equality set (reference
                # _feature_manager.py:985-989)
                op = "exact" if q.op == "__NE__" else q.op
                _pred, semi_df, join_key = self._feature_predicate(
                    f"features__{q.name}", op, q.value
                )
                anti = join_key.startswith("__ANTI__") or q.op == "__NE__"
                jk = join_key.removeprefix("__ANTI__")
                df = df.join(
                    semi_df, df[jk] == semi_df["__k"],
                    "left_anti" if anti else "left_semi",
                )
            else:
                conds.append(q.to_column(lambda p: F.col(self._resolve_field(p, columns))))
        for key, value in kwargs.items():
            col_pred, semi_df, join_key = self._compile_predicate(key, value, columns)
            if col_pred is not None:
                conds.append(col_pred)
            else:
                anti = join_key.startswith("__ANTI__")
                jk = join_key.removeprefix("__ANTI__")
                df = df.join(
                    semi_df, df[jk] == semi_df["__k"],
                    "left_anti" if anti else "left_semi",
                )
        if conds:
            combined = conds[0]
            for c in conds[1:]:
                combined = combined & c
            df = df.filter(combined)
        return df

    def _apply_negative(self, df: DataFrame, qs_args: tuple, kwargs: dict) -> DataFrame:
        """exclude(): Django semantics are NOT(A AND B AND ...) — one
        negation of the whole conjunction, not a conjunction of
        negations (reference Django QuerySet.exclude())."""
        if self._join_based(qs_args, kwargs):
            # materialize the id-set matching the conjunction once,
            # then anti-join — flipping each join independently would
            # compute NOT(A) AND NOT(B) instead.
            matching = self._apply_positive(df, qs_args, kwargs)
            ids = matching.select(F.col("id").alias("__k"))
            return df.join(ids, df["id"] == ids["__k"], "left_anti")
        conds: list[Column] = [q.to_column() for q in qs_args]
        conds += [self._compile_predicate(k, v, df.columns)[0] for k, v in kwargs.items()]
        if conds:
            combined = conds[0]
            for c in conds[1:]:
                combined = combined & c
            df = df.filter(~combined)
        return df

    def _apply(self, qs_args: tuple, kwargs: dict, negate: bool = False) -> "QuerySet":
        join_based = negate and self._join_based(qs_args, kwargs)
        if join_based and "id" not in self._columns:
            # a join-based lookup needs the entity id to anti-join
            # the matching set back out; after values(...) dropped
            # it there is no correct fallback (the column-predicate
            # path would yield a None cond and silently drop rows).
            raise ValueError(
                "exclude() with a relation/feature lookup requires the 'id' "
                "column; call exclude() before projecting it away with values()"
            )
        # Q objects are resolved where the plan compiles them with field
        # checks: in filter() and in a join-based exclude()
        self._check_lookups(qs_args if not negate or join_based else (), kwargs)
        keys = list(kwargs) + [
            k
            for q in qs_args
            if isinstance(q, Q)
            for k in self._q_lookup_keys(q)
        ]
        need_branch = self._needs_branch_filter(keys)
        if negate and not self._branch_filtered and "branch_id" in self._columns:
            # exclude() NEVER gets the identity bypass: the bypass
            # exists so a positive identity lookup can find rows on any
            # branch, but inverting the matched set must not expose
            # trash/foreign-branch rows (review finding)
            need_branch = True
        qs = self._with(("branch",)) if need_branch else self
        # branch handling is now resolved for this chain either way: an
        # identity lookup (id/uid/hash) intentionally sees ALL branches
        # (reference query_set.py:273-293) and later terminal ops must
        # not re-inject the default predicate.
        return qs._with(("exclude" if negate else "filter", qs_args, kwargs), branch_filtered=True)

    # ----------------------------------------------- driver evaluation
    #
    # A set built from a bare QuerySet with positive keyword filters
    # (plain columns, ``features__`` EAV lookups, relation paths),
    # ``order_by`` and ``limit`` is evaluated on the driver: Arrow
    # columns of the live registry files (``Lakehouse._registry_table``),
    # ``operators.filters.arrow_mask`` masks, and semi-joins as
    # ``is_in`` over id sets. Any other step, a lookup or value type
    # ``arrow_lookup_ok`` rejects, a registry the driver does not read
    # (remote, or over ``_DRIVER_READ_MAX_BYTES``) or a JSON value whose
    # Spark rendering Python cannot reproduce sends the whole set to
    # its Spark plan, unchanged.

    def _driver_ops(self) -> list[tuple] | None:
        """The steps as driver ops — ("mask", col, lookup, value),
        ("semi", col, anti, id_fn), ("sort", keys), ("limit", n) — or
        None when one of them needs Spark."""
        from .lakehouse import _arrow_types

        if self._base is not None:
            return None
        types = _arrow_types(REGISTRY_SCHEMAS[self.registry])
        ops: list[tuple] = []
        for kind, *args in self._steps:
            if kind == "branch":
                ops.append(("mask", "branch_id", "in", [self.lh.current_branch_id, MAIN_BRANCH_ID]))
            elif kind == "filter" and not args[0]:
                for key, value in args[1].items():
                    op = self._driver_op(key, value, types)
                    if op is None:
                        return None
                    ops.append(op)
            elif kind == "order_by":
                keys = [(f.removeprefix("-"), f.startswith("-")) for f in args[0]]
                if not all(c in types for c, _desc in keys):
                    return None
                ops.append(("sort", keys))
            elif kind == "limit":
                ops.append(("limit", args[0]))
            else:
                return None
        return ops

    def _driver_op(self, key: str, value: Any, types: dict) -> tuple | None:
        path, op = split_lookup(key)
        path = _FIELD_ALIASES.get(path, path)
        if path.startswith("features__"):
            if "id" not in types:
                return None
            fname = path.split("__")[1]
            if op == "isnull":
                return ("semi", "id", bool(value), lambda: self._feature_ids(fname, op, value))
            ctx = (
                "bool" if isinstance(value, bool)
                else "num" if isinstance(value, (int, float)) else "str"
            )
            if ctx != "str":
                if op not in (("exact",) if ctx == "bool" else ("exact", "gt", "gte", "lt", "lte")):
                    return None
                try:
                    value = value if ctx == "bool" else float(value)
                except OverflowError:
                    return None
            if not arrow_lookup_ok(op, _JSON_TYPES[ctx], value):
                return None
            return ("semi", "id", False, lambda: self._feature_ids(fname, op, value, ctx))
        rp = self._relation_path(path)
        if rp is None:
            if path not in types or not arrow_lookup_ok(op, types[path], value):
                return None
            return ("mask", path, op, value)
        from .lakehouse import _arrow_types

        rels, field = rp
        target = _arrow_types(REGISTRY_SCHEMAS[rels[-1][1].target])
        if field not in target or not arrow_lookup_ok(op, target[field], value):
            return None
        return ("semi", rels[0][1].local_key, False,
                lambda: self._relation_ids(rels, field, op, value))

    def _driver_table(self, registry: str, columns: list[str], **lookups: Any):
        t = self.lh._registry_table(registry, columns, **lookups)
        if t is None:
            raise _Fallback
        return t

    def _feature_ids(self, fname: str, op: str, value: Any, ctx: str | None = None):
        """``_feature_predicate``'s entity-id set, read on the driver."""
        ann = self._driver_table(
            "annotation", ["entity_id", "value_json"],
            entity_kind=self.registry, feature_name=fname,
        )
        if op == "isnull":
            return ann["entity_id"]
        return ann["entity_id"].filter(arrow_mask(op, _json_column(ann["value_json"], ctx), value))

    def _relation_ids(self, rels: list[tuple[str, Rel]], field: str, op: str, value: Any):
        """``_compile_predicate``'s backward semi-join chain, read on
        the driver: the id set to match ``rels[0]``'s local key."""
        last = rels[-1][1]
        ids = self._driver_table(last.target, [last.remote_key], **{f"{field}__{op}": value})
        ids = self._bridge_ids(last, ids[last.remote_key])
        for i in range(len(rels) - 2, -1, -1):
            rel, inner = rels[i][1], rels[i + 1][1]
            t = self._driver_table(rel.target, [rel.remote_key, inner.local_key])
            ids = self._bridge_ids(rel, t[rel.remote_key].filter(_is_in(t[inner.local_key], ids)))
        return ids

    def _bridge_ids(self, rel: Rel, ids):
        if rel.bridge is None:
            return ids
        br = self._driver_table(rel.bridge, [rel.bridge_local, rel.bridge_remote])
        return br[rel.bridge_local].filter(_is_in(br[rel.bridge_remote], ids))

    def _on_driver(self, columns: list[str] | None = None):
        """The choke point of the collecting terminals: the set's rows
        (``columns``, default all) as a pyarrow Table evaluated on the
        driver, or None when the set must run as its Spark plan."""
        ops = self._driver_ops()
        schema = REGISTRY_SCHEMAS[self.registry]
        columns = list(schema.names) if columns is None else columns
        if ops is None or not set(columns) <= set(schema.names):
            return None
        needed = dict.fromkeys(columns)
        pushdown: dict[str, Any] = {}
        head = True  # masks before the first limit commute with the read
        for op in ops:
            if op[0] == "mask":
                needed[op[1]] = None
                if head:
                    pushdown.setdefault(f"{op[1]}__{op[2]}", op[3])
            elif op[0] == "semi":
                needed[op[1]] = None
            elif op[0] == "sort":
                needed.update(dict.fromkeys(c for c, _desc in op[1]))
            else:
                head = False
        try:
            table = self._driver_table(self.registry, list(needed), **pushdown)
            for op in ops:
                if op[0] == "mask":
                    table = table.filter(arrow_mask(op[2], table[op[1]], op[3]))
                elif op[0] == "semi" and table.num_rows:
                    hit = _is_in(table[op[1]], op[3]())
                    table = table.filter(pc.invert(hit) if op[2] else hit)
                elif op[0] == "sort":
                    table = table.take(_sort_indices(table, op[1]))
                elif op[0] == "limit":
                    table = table.slice(0, op[1])
        except _Fallback:
            return None
        return table.select(columns)

    def _rows(self, n: int | None = None) -> list:
        """The set's (first ``n``) rows — ``collect()``/``take(n)`` of
        its plan, or the same Rows from the driver evaluation."""
        from .lakehouse import _table_rows

        qs = self.all()
        table = qs._on_driver()
        if table is None:
            df = qs._df
            return df.collect() if n is None else df.take(n)
        if n is not None:
            table = table.slice(0, n)
        return _table_rows(REGISTRY_SCHEMAS[self.registry], table)

    # ------------------------------------------------------------ public api

    def filter(self, *qs: Q, **kwargs: Any) -> "QuerySet":
        return self._apply(qs, kwargs, negate=False)

    def exclude(self, *qs: Q, **kwargs: Any) -> "QuerySet":
        return self._apply(qs, kwargs, negate=True)

    def all(self) -> "QuerySet":
        if self._needs_branch_filter([]):
            return self._with(("branch",), branch_filtered=True)
        return self

    def order_by(self, *fields: str) -> "QuerySet":
        return self._with(("order_by", fields), ordered=True)

    def limit(self, n: int) -> "QuerySet":
        return self._with(("limit", n))

    # -- iteration / paging (reference: Django QuerySet __iter__/
    # __getitem__/iterator, inherited by models/query_set.py QuerySet) --

    def __iter__(self):
        """Row-by-row iteration. Partition-streamed
        (``toLocalIterator``): the driver holds ONE partition of rows
        at a time, never the whole set — the Spark analogue of
        Django's server-side cursor, and the 100-TB-safe default
        (Django's ``__iter__`` materializes a full result cache; for
        registry-sized sets the two are equivalent)."""
        return self.all()._df.toLocalIterator(prefetchPartitions=True)

    def iterator(self, chunk_size: int | None = None):
        """Explicit streaming iterator (reference
        ``QuerySet.iterator(chunk_size)``). Spark's unit of transfer
        is the partition, so ``chunk_size`` is accepted for API parity
        and ignored — partition size plays its role."""
        del chunk_size
        return iter(self)

    def __bool__(self) -> bool:
        return self.exists()

    # deliberately NO __len__: CPython's length-hint protocol probes
    # __len__ before materializing list(qs), which would silently run a
    # FULL count() job ahead of every iteration — a hidden second table
    # scan (review finding). Use .count() explicitly.

    def __getitem__(self, k):
        """Positional access and slicing in the CURRENT order
        (reference: Django ``QuerySet.__getitem__`` — a slice narrows
        the query with LIMIT/OFFSET, an int fetches one row). Like
        SQL, positions on an unordered set are plan-dependent — call
        ``order_by`` first for stable pages. Negative indices are
        rejected exactly as Django rejects them."""
        if isinstance(k, slice):
            if (k.start or 0) < 0 or (k.stop is not None and k.stop < 0):
                raise ValueError("negative slicing is not supported on a QuerySet")
            if k.step is not None and k.step <= 0:
                # Django rejects non-positive steps on a QuerySet; a
                # silent [::-1] here would reverse plan-dependent order
                raise ValueError(
                    "QuerySet slicing requires a positive step"
                )
            if k.step is not None:
                # Django returns a list for stepped slices
                return list(self[k.start : k.stop])[:: k.step]
            return self.all()._with(("slice", k.start or 0, k.stop))
        if not isinstance(k, int):
            raise TypeError(
                f"QuerySet indices must be integers or slices, not {type(k).__name__}"
            )
        if k < 0:
            raise ValueError("negative indexing is not supported on a QuerySet")
        rows = self.all()._df.offset(k).take(1) if k else self.all()._df.take(1)
        if not rows:
            raise IndexError(f"QuerySet index {k} out of range")
        return rows[0]

    def values(self, *fields: str) -> "QuerySet":
        # branch predicate must land BEFORE the projection: the select
        # may drop branch_id, after which it could never be applied.
        return self.all()._with(("values", fields), columns=list(fields))

    def values_list(self, field: str, flat: bool = True) -> list:
        """Driver-side projection collect. Bounded by registry size
        (like the reference's ORM terminal) — not for payload tables."""
        from .lakehouse import _table_values

        qs = self.all()
        table = qs._on_driver([field])
        if table is None:
            values = [r[0] for r in qs._df.select(field).collect()]
        else:
            (values,) = _table_values(REGISTRY_SCHEMAS[self.registry], table)
        return values if flat else [(v,) for v in values]

    def to_list(self, field: str) -> list:
        return self.values_list(field, flat=True)

    def distinct(self) -> "QuerySet":
        return self._with(("distinct",))

    def df(self) -> DataFrame:
        return self.all()._df

    def _include_column(self, base: DataFrame, path: str) -> tuple[DataFrame, str]:
        """One related-path column for ``to_dataframe(include=...)``
        (reference ``process_cols_from_include`` ``query_set.py:1059``
        + ``analyze_lookup_cardinality`` ``:719``): a *-to-one FK chain
        yields a scalar column via chained LEFT joins; any to-many hop
        (M2M bridge) yields a sorted list column aggregated per entity
        — entity rows are NEVER fanned out (J6)."""
        rp = self._relation_path(path)
        if rp is None:
            raise ValueError(f"include path {path!r} is not a relation path on {self.registry}")
        rels, field = rp
        to_many = any(rel.to_many for _src, rel in rels)
        cur = base.select(
            F.col("id").alias("__eid"), F.col(rels[0][1].local_key).alias("__j")
        )
        for i, (_src, rel) in enumerate(rels):
            if rel.bridge is not None:
                br = self.lh.read_raw(rel.bridge).select(
                    F.col(rel.bridge_local).alias("__t"),
                    F.col(rel.bridge_remote).alias("__j2"),
                )
                cur = cur.join(br, cur["__j"] == br["__t"], "left").select(
                    "__eid", F.col("__j2").alias("__j")
                )
            nxt = rels[i + 1][1].local_key if i + 1 < len(rels) else field
            t = self.lh.read_raw(rel.target).select(
                F.col(rel.remote_key).alias("__t"), F.col(nxt).alias("__j2")
            )
            cur = cur.join(t, cur["__j"] == t["__t"], "left").select(
                "__eid", F.col("__j2").alias("__j")
            )
        if to_many:
            out = cur.filter(F.col("__j").isNotNull()).groupBy("__eid").agg(
                F.array_sort(F.collect_set("__j")).alias(path)
            )
        else:
            out = cur.select("__eid", F.col("__j").alias(path))
        return out, path, to_many

    def to_dataframe(
        self,
        features: list[str] | None = None,
        include: list[str] | None = None,
        *,
        limit: int | None = SEARCH_QUERY_DEFAULT_LIMIT,
        order_by: str | None = "-id",
    ):
        """Wide pandas export (reference ``to_dataframe``,
        ``query_set.py:1142-1298``, §2.10 + ``include=`` related-field
        columns ``query_set.py:1059-1141``): entity rows LEFT-joined
        with pivoted feature annotations and related-path columns
        (scalar for to-one chains, sorted lists for to-many — no row
        fanout).

        Reference interactive-export semantics (``query_set.py:
        1167-1189``): a default ``limit=20`` with a limit+1 truncation
        probe (warns when the DEFAULT limit truncates), default
        ``order_by="-id"`` applied only when the set is not already
        ordered, and a preserved-order id re-filter so the include/
        feature joins run over at most ``limit`` entities — on a large
        registry the pivot joins touch 20 rows, not the table. Pass
        ``limit=None`` for a full export (the pre-r10 behavior).

        Without ``include`` a set the driver can evaluate (see
        ``_on_driver``) is exported with no Spark job: its rows and
        the feature pivot come from the live registry files, and the
        frame is built from Arrow as ``toPandas`` builds it."""
        subset = self.all()
        if order_by is not None and not subset._ordered:
            subset = subset.order_by(order_by)
        out = None if include else subset._driver_dataframe(features or [], limit)
        pdf, is_truncated = out or subset._spark_dataframe(features, include, limit)
        if is_truncated and limit == SEARCH_QUERY_DEFAULT_LIMIT:
            logger.warning(
                f"truncated query result to limit={limit} "
                f"{self.registry} objects"
            )
        return pdf

    def _driver_dataframe(self, features: list[str], limit: int | None):
        """``to_dataframe``'s (frame, truncated) from the driver
        evaluation, or None when Spark must build it."""
        from pyspark.sql.types import StringType, StructField

        schema = REGISTRY_SCHEMAS[self.registry]
        if (
            "id" not in schema.names
            or len(set(features)) < len(features)
            or set(features) & set(schema.names)
            or not self.lh.spark._jconf.arrowPySparkEnabled()
        ):
            return None
        # like the Spark path, a limited export evaluates the set's ids
        # and reads full rows only for the first ``limit`` of them
        table = self._on_driver(None if limit is None else ["id"])
        if table is None:
            return None
        is_truncated = limit is not None and table.num_rows > limit
        try:
            if limit is not None:
                ids = table["id"].slice(0, limit).combine_chunks()
                table = self._driver_table(self.registry, schema.names, id__in=ids.to_pylist())
                table = table.take(pc.sort_indices(pc.index_in(table["id"], value_set=ids)))
            wide = self._feature_pivot(table["id"], features) if features else []
        except _Fallback:
            return None
        # a scan's fields are all nullable, and so are the pivot's
        fields = [StructField(f.name, f.dataType) for f in schema.fields]
        fields += [StructField(f, StringType()) for f in features]
        table = pa.Table.from_arrays([*table.columns, *wide], names=[f.name for f in fields])
        return _arrow_to_pandas(self.lh.spark, table, fields), is_truncated

    def _feature_pivot(self, ids, features: list[str]) -> list:
        """One string column per feature aligned with ``ids``: the
        pivot's ``first(get_json_object(value_json, '$'),
        ignorenulls=True)``. An entity with two different values for a
        feature raises ``_Fallback``, since Spark's ``first`` picks
        either."""
        ann = self._driver_table(
            "annotation", ["entity_id", "feature_name", "value_json"],
            entity_kind=self.registry, feature_name__in=features,
        )
        ann = ann.filter(_is_in(ann["entity_id"], ids))
        text = _json_column(ann["value_json"], "str").to_pylist()
        firsts: dict = {}
        keys = zip(ann["entity_id"].to_pylist(), ann["feature_name"].to_pylist())
        for (eid, name), v in zip(keys, text):
            if eid is not None and v is not None and firsts.setdefault((name, eid), v) != v:
                raise _Fallback
        ids = ids.to_pylist()
        return [pa.array([firsts.get((name, i)) for i in ids], pa.string()) for name in features]

    def _spark_dataframe(self, features, include, limit):
        """``to_dataframe``'s (frame, truncated) as Spark plans."""
        base = self._df
        is_truncated = False
        if limit is not None and "id" in base.columns:
            limited_ids = [
                r[0] for r in base.select("id").limit(limit + 1).collect()
            ]
            is_truncated = len(limited_ids) > limit
            if is_truncated:
                limited_ids = limited_ids[:limit]
            if not limited_ids:
                base = base.limit(0)
            elif len(limited_ids) <= 256:
                # preserved-order re-filter (reference Case/When over
                # enumerate(limited_ids)): an isin prunes the scan, a
                # literal-array position keeps the probed order through
                # the downstream left joins (joins don't preserve order)
                base = base.filter(F.col("id").isin(limited_ids)).withColumn(
                    "__pos",
                    F.array_position(
                        F.array(*[F.lit(i) for i in limited_ids]), F.col("id")
                    ),
                )
            else:
                # large EXPLICIT limits: a literal array expression of
                # that size bloats the plan (ADVICE r10) — ship the
                # probed (id, position) pairs as a broadcast inner
                # join instead; same filtering + order columns.
                pos_df = base.sparkSession.createDataFrame(
                    [(int(i), i_pos + 1) for i_pos, i in enumerate(limited_ids)],
                    "__pid bigint, __pos bigint",
                )
                base = base.join(
                    F.broadcast(pos_df), base["id"] == F.col("__pid")
                ).drop("__pid")
        elif include or features:
            # a full export: number the rows in the set's order before
            # the left joins below reshuffle them (the id is nondeterministic,
            # so Catalyst keeps it above the set's sort)
            base = base.withColumn("__pos", F.monotonically_increasing_id())
        for path in include or []:
            col_df, name, to_many = self._include_column(base, path)
            col_df = col_df.withColumnRenamed("__eid", "__inc_id")
            base = base.join(
                col_df, base["id"] == col_df["__inc_id"], "left"
            ).drop("__inc_id")
            if to_many:
                # entities with no links get an EMPTY list, not NULL —
                # the reference's include columns are always iterable
                # (query_set.py:1059-1141).
                dtype = dict(col_df.dtypes)[name]
                base = base.withColumn(
                    name, F.coalesce(F.col(name), F.array().cast(dtype))
                )
        if features:
            ann = self.lh.read_raw("annotation").filter(
                (F.col("entity_kind") == self.registry)
                & (F.col("feature_name").isin(features))
            )
            wide = (
                ann.groupBy("entity_id")
                .pivot("feature_name", features)
                .agg(F.first(F.get_json_object(F.col("value_json"), "$"), ignorenulls=True))
            )
            base = base.join(wide, base["id"] == wide["entity_id"], "left").drop("entity_id")
        if "__pos" in base.columns:
            base = base.orderBy("__pos").drop("__pos")
        return base.toPandas(), is_truncated

    def lookup(self, field: str = "name") -> "Lookup":
        """Auto-complete namespace of rows keyed by a field (reference
        ``Registry.lookup``/``BasicQuerySet.lookup``): attribute access
        returns the row. Field values are slugified to identifiers the
        same way (non-alphanumeric → underscore).

        Collects the registry to the driver — an interactive
        convenience bounded by registry size (same bound as the
        reference's ORM lookup); filter first on huge registries."""
        import re as _re

        rows = self._rows()
        mapping = {}
        for r in rows:
            v = r[field]
            if v is None:
                continue
            slug = _re.sub(r"\W|^(?=\d)", "_", str(v)).lower()
            mapping[slug] = r
        return Lookup(mapping)

    # terminal cardinality ops (reference query_set.py:93-116)

    def count(self) -> int:
        qs = self.all()
        table = qs._on_driver(REGISTRY_SCHEMAS[self.registry].names[:1])
        return qs._df.count() if table is None else table.num_rows

    def exists(self) -> bool:
        qs = self.all()
        table = qs._on_driver(REGISTRY_SCHEMAS[self.registry].names[:1])
        return qs._df.limit(1).count() > 0 if table is None else table.num_rows > 0

    def first(self):
        rows = self._rows(1)
        return rows[0] if rows else None

    def one(self):
        rows = self._rows(2)
        if len(rows) == 0:
            raise DoesNotExist(f"no {self.registry} matches")
        if len(rows) > 1:
            raise MultipleResultsFound(f"multiple {self.registry} rows match")
        return rows[0]

    def one_or_none(self):
        rows = self._rows(2)
        if len(rows) > 1:
            raise MultipleResultsFound(f"multiple {self.registry} rows match")
        return rows[0] if rows else None

    def get(self, idlike: int | str | None = None, **kwargs: Any):
        """Reference get semantics (``query_set.py:308-366``): int id;
        str uid (exact, then prefix + is_latest, then latest-created
        fallback); or kwargs with an implicit is_latest=True for
        versioned registries. Identity lookups see every branch.

        ``get(idlike)`` collects the candidate rows (that id, or every
        uid ``idlike`` prefixes) and makes the choice in Python
        (``_pick``). Like every terminal op, the collects evaluate on
        the driver when the set allows it (``_on_driver``: a read of
        the live registry files, no Spark job), else as the set's Spark
        plan."""
        if idlike is not None:
            # filter SELF, not a fresh QuerySet: get() on a filtered
            # chain must respect the chain (qs.filter(kind=...).get(uid)
            # previously matched outside the kind filter — review
            # finding; Django/reference get-on-queryset semantics)
            lookup = {"id": idlike} if isinstance(idlike, int) else {"uid__startswith": idlike}
            return self._pick(idlike, self.filter(**lookup)._rows())
        qs = self.filter(**kwargs)
        if "is_latest" in self._columns and "uid" not in kwargs and "id" not in kwargs:
            with_latest = qs.filter(is_latest=True).one_or_none()
            if with_latest is not None:
                return with_latest
            out = qs.order_by("-created_at").first()
            if out is None:
                raise DoesNotExist(f"no {self.registry} matches {kwargs}")
            return out
        return qs.one()

    def _pick(self, idlike: int | str, rows: list):
        """``get(idlike)``'s choice among ``rows`` — the rows with that
        id, or the uid family ``idlike`` prefixes: the exact uid, else
        the ``is_latest`` head, else the newest ``created_at``."""
        from .lakehouse import _newest

        hits = rows
        if isinstance(idlike, str):
            hits = [r for r in rows if r["uid"] == idlike]
            if not hits and rows and "is_latest" in rows[0].__fields__:
                hits = [r for r in rows if r["is_latest"]]
            if not hits:
                if not rows:
                    raise DoesNotExist(f"no {self.registry} with uid like {idlike!r}")
                return _newest(rows)
        if not hits:
            raise DoesNotExist(f"no {self.registry} matches")
        if len(hits) > 1:
            raise MultipleResultsFound(f"multiple {self.registry} rows match")
        return hits[0]

    def delete(self, permanent: bool = False) -> None:
        """Reference ``QuerySet.delete`` (``query_set.py:1312``): trash
        (or permanently remove) every row this queryset matches — one
        set-based join in the catalog, no collected id list."""
        self.lh.delete_where(
            self.registry, self.all()._df.select("id"), permanent=permanent
        )

    def update(self, **values: Any) -> None:
        """Django-style ``QuerySet.update(**values)``: literal column
        updates applied to every matched row (one join + bucket-scoped
        rewrite in the catalog)."""
        self.lh.update_where(self.registry, self.all()._df.select("id"), **values)

    def validate(self, values: list, field: str = "name") -> list[bool]:
        """Reference ``QuerySet.validate`` (``query_set.py:1434``,
        CanCurate): membership of each value in THIS queryset's rows,
        returned in input order."""
        from ..curation.validate import validate_values

        spark = self.lh.spark
        vdf = spark.createDataFrame(
            [(i, v) for i, v in enumerate(values)], "__pos long, __v string"
        )
        flagged = validate_values(vdf, self.all()._df, "__v", field)
        hit = {r["__pos"]: r["validated"] for r in flagged.collect()}
        return [bool(hit.get(i, False)) for i in range(len(values))]

    def inspect(self, values: list, field: str = "name") -> dict:
        """Reference ``QuerySet.inspect`` (``query_set.py:1439``):
        ``{"validated": [...], "non_validated": [...]}`` preserving
        input order."""
        ok = self.validate(values, field)
        return {
            "validated": [v for v, k in zip(values, ok) if k],
            "non_validated": [v for v, k in zip(values, ok) if not k],
        }

    def standardize(
        self,
        values: list,
        field: str = "name",
        synonyms_field: str = "synonyms",
    ) -> list[str]:
        """Reference ``QuerySet.standardize`` (``query_set.py:1444``):
        map values through the queryset's synonym table to canonical
        names; unmatched pass through, input order preserved."""
        from ..curation.validate import standardize_values

        spark = self.lh.spark
        vdf = spark.createDataFrame(
            [(i, v) for i, v in enumerate(values)], "__pos long, __v string"
        )
        out = standardize_values(
            vdf, self.all()._df, "__v", field, synonyms_field
        )
        got = {r["__pos"]: r["standardized"] for r in out.collect()}
        return [got.get(i, values[i]) for i in range(len(values))]

    def search(
        self,
        query: str,
        fields: list[str] | None = None,
        limit: int = 20,
        truncate_string: bool = False,
    ) -> "QuerySet":
        """§2.9 weighted-rank search over the registry's text fields
        (reference ``query_manager.py:36-172`` incl. the 80%-length
        query truncation behind ``truncate_string``)."""
        base = self.all()
        return base._with(
            ("search", query, fields, limit, truncate_string),
            ordered=True,
            columns=[*base._columns, "rank"],
        )

    # ------------------------------------------------ artifact-set surface
    # Reference ``ArtifactSet`` (artifact_set.py:34-133): every artifact
    # query set additionally supports load/open/mapped over the member
    # payloads, and any record set supports to_artifact export
    # (artifact_set.py:324-380).

    _ARRAY_OTYPES = (
        "AnnDataLong", "MuDataLong", "SpatialDataLong", "SomaExperimentLong",
    )
    _ARRAY_SUFFIXES = (".h5ad", ".h5mu", ".zarr", ".tiledbsoma")

    def _artifact_rows(self, op: str) -> list:
        """Materialize the set's artifact rows (the reference iterates
        the queryset the same way — ``list(self)``,
        ``artifact_set.py:57``; registry rows are metadata-sized).
        Warns when unordered, like the reference's UNORDERED_WARNING
        (``artifact_set.py:28``)."""
        if self.registry != "artifact":
            raise TypeError(
                f".{op}() is only available on artifact query sets, "
                f"not {self.registry!r}"
            )
        if not self._ordered:
            logger.warning(
                "this query set is unordered, consider using `.order_by()` "
                "first to avoid opening the artifacts in an arbitrary order"
            )
        rows = self._rows()  # bounded: registry metadata rows
        if not rows:
            raise ValueError(f"cannot {op}() an empty artifact set")
        for r in rows:
            if (r["otype"] in self._ARRAY_OTYPES) or (
                (r["suffix"] or "") in self._ARRAY_SUFFIXES
            ):
                raise NotImplementedError(
                    f".{op}() concatenates tabular payloads; artifact "
                    f"{r['uid']} is an array store ({r['otype'] or r['suffix']}) "
                    "— open it individually via Lakehouse.open_artifact"
                )
        return rows

    def _member_paths(self, rows: list) -> list[str]:
        """Payload paths for a set of artifact rows with ONE storage
        lookup (a per-row ``artifact_path`` call would issue one
        registry action per member — N+1)."""
        roots = {
            r["id"]: r["root"] for r in self.lh._registry_rows("storage")
        }  # storage registry: a handful of rows
        return [f"{roots[r['storage_id']]}/{r['key']}" for r in rows]

    def _track_inputs(self, rows: list, is_run_input: bool | None) -> None:
        """L3 run-input lineage for set-level access (reference
        ``track_run_input`` on the full artifact list,
        ``artifact_set.py:60``): one bulk append, only after the
        open/load succeeded."""
        if self.lh._should_track_input(is_run_input):
            self.lh._append(
                "run_input_artifacts",
                [
                    {"run_id": self.lh.current_run_id, "artifact_id": r["id"]}
                    for r in rows
                ],
            )

    def load(self, join: str = "outer", is_run_input: bool | None = None) -> DataFrame:
        """One DataFrame over every artifact in the set (reference
        ``ArtifactSet.load`` → ``_load_concat_artifacts``,
        ``artifact_set.py:47-62``): a lazy union of the member payload
        scans — ``join='outer'`` is the union of columns (missing →
        NULL), ``join='inner'`` the intersection, mirroring the pandas
        concat semantics the reference delegates to. No payload bytes
        move on the driver; Spark's unionByName is the concat."""
        from functools import reduce

        from ..sources.readers import read_payload

        if join not in ("inner", "outer"):
            raise ValueError(f"join must be 'inner' or 'outer', got {join!r}")
        rows = self._artifact_rows("load")
        dfs = [
            read_payload(self.lh.spark, path, r["suffix"] or ".parquet")
            for r, path in zip(rows, self._member_paths(rows))
        ]
        if join == "inner":
            common = set(dfs[0].columns)
            for d in dfs[1:]:
                common &= set(d.columns)
            if not common:
                raise ValueError("no common columns across artifacts for join='inner'")
            cols = [c for c in dfs[0].columns if c in common]
            out = reduce(DataFrame.unionByName, [d.select(*cols) for d in dfs])
        else:
            out = reduce(
                lambda a, b: a.unionByName(b, allowMissingColumns=True), dfs
            )
        self._track_inputs(rows, is_run_input)
        return out

    def open(self, engine: str = "spark", is_run_input: bool | None = None):
        """Dataset handle over the member payload paths (reference
        ``ArtifactSet.open`` → ``_open_dataframe``,
        ``artifact_set.py:64-82`` / ``_backed_access.py``):

        - ``engine='spark'`` (the engine the reference lacks) — the
          lazy multi-path parquet scan: implicit UNION ALL with
          per-file predicate pushdown and partition pruning;
        - ``engine='pyarrow'`` — a ``pyarrow.dataset.Dataset`` over the
          paths (reference ``_pyarrow_dataset.py``);
        - ``engine='polars'`` — an iterator of polars LazyFrames
          (reference ``_polars_lazy_df.py``), import-gated since polars
          is not a required dependency."""
        if engine not in ("spark", "pyarrow", "polars"):
            # validate BEFORE lineage: a failed open must not record
            # phantom run-input edges
            raise ValueError(f"unknown engine {engine!r}")
        if engine == "polars":
            try:
                import polars as pl  # noqa: F401
            except ImportError as e:  # pragma: no cover - polars absent here
                raise ImportError("engine='polars' requires the polars package") from e
        rows = self._artifact_rows("open")
        bad = {(r["suffix"] or ".parquet") for r in rows} - {".parquet"}
        if bad:
            raise ValueError(
                f"open() requires parquet payloads; set contains {sorted(bad)}"
            )
        paths = self._member_paths(rows)
        if engine == "spark":
            out = self.lh.spark.read.parquet(*paths)
            self._track_inputs(rows, is_run_input)
            return out
        from .lakehouse import _local_path

        local = [_local_path(p) for p in paths]
        if engine == "pyarrow":
            import pyarrow.dataset as pads

            # payload paths are directories of part files; a list passed
            # to pads.dataset must be file paths, so union per-path
            # datasets instead (pyarrow's documented nested-dataset form)
            out = pads.dataset([pads.dataset(p, format="parquet") for p in local])
            self._track_inputs(rows, is_run_input)
            return out
        self._track_inputs(rows, is_run_input)
        return (pl.scan_parquet(p) for p in local)

    def mapped(self, label_col: str | None = None, is_run_input: bool | None = None):
        """Random-access :class:`~lamindb_spark.pipeline.mapped.
        MappedCollection` over the set's payloads (reference
        ``ArtifactSet.mapped``, ``artifact_set.py:85-133``) — the ML
        DataLoader view; §2.16."""
        from ..pipeline.mapped import MappedCollection
        from .lakehouse import _local_path

        rows = self._artifact_rows("mapped")
        paths = [_local_path(p) for p in self._member_paths(rows)]
        out = MappedCollection(paths, label_col=label_col)
        self._track_inputs(rows, is_run_input)
        return out

    def artifacts_from_path(self, path: str) -> "QuerySet":
        """Artifacts in the set registered for a filesystem path
        (reference ``artifacts_from_path``, ``artifact_set.py:382-441``
        — there a Concat(storage.root, '/', key) == path filter). The
        engine resolves the path against the storage-root table on the
        driver (a handful of rows) into (storage_id, key) predicates —
        the scan then filters on plain indexed-able columns instead of
        a computed concat."""
        if self.registry != "artifact":
            raise TypeError(
                ".artifacts_from_path() is only available on artifact query sets"
            )
        from .lakehouse import _local_path

        p = _local_path(path).rstrip("/")
        roots = [
            (r["id"], _local_path(r["root"]).rstrip("/"))
            for r in self.lh._registry_rows("storage")
        ]
        preds = [
            (F.col("storage_id") == sid) & (F.col("key") == p[len(root) + 1 :])
            for sid, root in roots
            if p.startswith(root + "/")
        ]
        if not preds:
            return self.all()._with(("where", F.lit(False)))
        combined = preds[0]
        for q in preds[1:]:
            combined = combined | q
        return self.all()._with(("where", combined), branch_filtered=True)

    def to_artifact(
        self,
        key: str | None = None,
        suffix: str | None = None,
        **kwargs: Any,
    ) -> dict:
        """Export the set's wide frame as a saved artifact (reference
        ``RecordSet.to_artifact``, ``artifact_set.py:324-380``): calls
        :meth:`to_dataframe` and registers the result under
        ``record_exports/{registry}_subset{suffix}`` (format from the
        key's suffix, default ``.csv`` — reference default). Unlike the
        interactive ``to_dataframe``, the export defaults to the FULL
        set (``limit=None``) — an export that silently truncated to 20
        rows would be wrong."""
        assert key is None or suffix is None, "Only one of key or suffix can be passed."
        kwargs.setdefault("limit", None)
        pdf = self.to_dataframe(**kwargs)
        if key is None:
            key = f"record_exports/{self.registry}_subset{suffix or '.csv'}"
        if len(pdf) == 0:
            # createDataFrame cannot infer a schema from an empty frame —
            # export the header as all-string columns
            from pyspark.sql.types import StringType, StructField, StructType

            sdf = self.lh.spark.createDataFrame(
                [], StructType([StructField(c, StringType()) for c in pdf.columns])
            )
        else:
            sdf = self.lh.spark.createDataFrame(pdf)
        # all-null pandas columns infer as VOID, which csv/parquet
        # writers reject — export them as (null) strings
        for name, dtype in sdf.dtypes:
            if dtype == "void":
                sdf = sdf.withColumn(name, F.col(name).cast("string"))
        return self.lh.export_artifact(
            sdf, key, description=f"Export of {self.registry} subset"
        )


class Lookup:
    """Dot-accessible namespace returned by :meth:`QuerySet.lookup`."""

    def __init__(self, mapping: dict):
        self._mapping = dict(mapping)

    def __getattr__(self, name: str):
        try:
            return self._mapping[name]
        except KeyError:
            raise AttributeError(
                f"{name!r} not in lookup; known: {sorted(self._mapping)[:20]}"
            ) from None

    def __dir__(self):
        return sorted(self._mapping)

    def __len__(self):
        return len(self._mapping)
